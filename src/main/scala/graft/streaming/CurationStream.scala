package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming corpus admission — the incremental form of the c2
  * curation chain, for corpora that arrive continuously (crawl
  * batches, upload queues) rather than as one frozen snapshot:
  *
  *   quality gate (stateless hashed-ngram score, the SAME column
  *   expression as batch t11) -> watermark-bounded exact dedup
  *   (one state entry per distinct fingerprint within the lateness
  *   window — bounded state on an unbounded stream).
  *
  * Admission is deterministic per document (score is a pure function
  * of the text), so replaying a batch through the stream admits
  * exactly the docs the batch gate admits; only dedup survivor
  * IDENTITY depends on arrival order (first-arrival wins in a stream,
  * lowest-id wins in the batch form) — the spec pins both properties.
  * At 100 TB/day this is a parse-project-filter over each micro-batch
  * plus one hash-keyed state lookup: no shuffle beyond the dedup
  * state partitioning, no model service on the hot path.
  */
object CurationStream {

  /** Admit quality documents, dropping in-window duplicates.
    * `df` is a streaming frame carrying (textCol, timeCol, ...).
    */
  def admit(df: DataFrame, minScoreMilli: Long,
            textCol: String = "text", timeCol: String = "event_time",
            delay: String = "10 minutes"): DataFrame = {
    // NULL text must score 0 exactly like the batch scorer's coalesce —
    // a bare ngramFeatures(null) would yield a NULL score and silently
    // drop the row regardless of threshold, breaking batch parity.
    // The score is BARRIER-staged (r18, guide §4.4): the gate filter
    // otherwise gets pushed below this projection with the whole
    // score-aggregate tree inlined into its condition, so every
    // micro-batch row paid the tokenize+hash fold twice (once to
    // gate, once to emit). Values are unchanged — the barrier only
    // pins the tree to one evaluation per row (the same StageBarrier
    // that keeps Heartbeats' strip predicate on the watermark column).
    // The token array is staged too: the gram expansion references
    // its token input six times and HOFs get no codegen CSE, so the
    // inlined form re-split every micro-batch row's text six times
    // (TextAnalysis.ngramFeaturesFromToks).
    val gated = df
      .withColumn("__toks",
        graft.functions.StageBarrier(
          TextAnalysis.tokens(lower(coalesce(col(textCol), lit(""))))))
      .withColumn("score_milli",
        graft.functions.StageBarrier(TextAnalysis.ngramScoreMilli(
          TextAnalysis.ngramFeaturesFromToks(col("__toks")))))
      .filter(col("score_milli") > minScoreMilli)
      .drop("__toks")
    StreamingDedup.exactWithinWatermark(gated, textCol, timeCol, delay)
  }
}
