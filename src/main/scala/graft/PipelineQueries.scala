package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators._

/** Training-data pipeline queries (text analysis, dedup, similarity,
  * multimodal) over the documents/embeddings tables, with generated
  * DuckDB oracle SQL. All hashing/scoring is portable integer
  * arithmetic, so even MinHash signatures and SimHash fingerprints are
  * oracle-checkable.
  */
object PipelineQueries {

  // ---------------------------------------------------------------
  // Spark side
  // ---------------------------------------------------------------

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  def textStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.features(docs(s, dir))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_chars_m")).as("sum_chars"),
        sum(col("n_bpe_tokens")).as("sum_bpe"),
        (sum(col("quality_e6")) / count(lit(1))).cast("long").as("avg_quality_e6"))

  /** T2 — language-ID confusion matrix. Three staged projections
    * (tokens → per-language hit counts → decision), so the split and
    * each stopword filter run once per row; see
    * [[TextAnalysis.langIdFromHits]] for why inlining them into one
    * expression re-evaluates every HOF at each when-branch reference.
    */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), col("text"),
        TextAnalysis.tokens(lower(col("text"))).as("__toks"))
      .select(col("lang"),
        regexp_count(col("text"), lit("[\\u4e00-\\u9fff]")).as("__cjk"),
        TextAnalysis.stopwordHits(col("__toks"), "en").as("__en"),
        TextAnalysis.stopwordHits(col("__toks"), "de").as("__de"),
        TextAnalysis.stopwordHits(col("__toks"), "fr").as("__fr"),
        TextAnalysis.stopwordHits(col("__toks"), "es").as("__es"))
      .select(col("lang"),
        TextAnalysis.langIdFromHits(col("__cjk"), col("__en"), col("__de"),
          col("__fr"), col("__es")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))

  def fingerprintStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.features(docs(s, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp_md5")).as("n_unique_md5"),
        countDistinct(col("fp_poly")).as("n_unique_poly"))

  /** T17 — Gopher/C4-style hard-filter funnel: per language, how many
    * documents each threshold rule rejects (independent counts — one
    * doc can trip several) and how many survive the whole gate. The
    * per-doc verdict/reason layer is [[TextAnalysis.qualityGate]];
    * this is the corpus-level report a data curator reads before
    * picking thresholds.
    */
  def qualityFunnel(s: SparkSession, dir: String): DataFrame = {
    def cnt(c: String) = sum(col(c).cast("long")).as("n_" + c.stripPrefix("f_"))
    TextAnalysis.qualityGate(docs(s, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        cnt("f_short"), cnt("f_long"), cnt("f_wordlen"), cnt("f_alpha"),
        cnt("f_stop"), cnt("f_symbol"), cnt("f_rep"),
        sum(col("pass").cast("long")).as("n_pass"))
  }

  def docFeatures(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.features(docs(s, dir).filter(col("doc_id") < 200))
      .select(col("doc_id"), col("n_tokens"), col("n_bpe_tokens"),
        col("punct_chars"), col("quality_e6"), col("lang_pred"),
        col("fp_md5"), col("fp_poly"))

  def exactDedupStats(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedupStats(docs(s, dir), "lang")

  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0),
      minJaccardE6 = 50000L, shingleN = 2)

  def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.withShingles(
        docs(s, dir).filter(col("doc_id") < 100 &&
          size(TextAnalysis.tokens(col("text"))) >= 3), "text", 3)
      .select(col("doc_id"), col("sh"))
    sh.select(col("doc_id"),
        posexplode(Dedup.minhashSignature(col("sh"), 16)).as(Seq("pos", "sig_value")))
      .select(col("doc_id"), (col("pos") + 1).as("perm"), col("sig_value"))
  }

  def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0),
      shingleN = 3, k = 16, bands = 8)

  def nearDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDedup(docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0),
        minJaccardE6 = 100000L)
      .select(col("doc_id"), col("lang"), col("source"))

  /** D19 — signature-estimate vs exact Jaccard, error stats per
    * exact-Jaccard decile. The natural d2 slice alone puts every pair
    * in the lowest decile, so the corpus plants half-truncations
    * (+1e6, exact Jaccard ≈ 0.3–0.5) and byte-exact copies (+2e6,
    * exact = estimate = 1.0) — the estimator is graded across the
    * whole similarity range, not just on dissimilar pairs.
    */
  def jaccardEstQualityQ(s: SparkSession, dir: String): DataFrame = {
    // Fixed-size audit sample (doc_id < 2000 caps the slice at 200
    // docs from sf0.1 up): certifying the estimator needs a
    // representative pair set, not one that grows with the corpus —
    // without the cap the all-pairs exact side is the one quadratic
    // query in the scale sweep (0.5 s → 20 s at 30×, r9).
    val base = docs(s, dir)
      .filter(pmod(col("doc_id"), lit(10)) === 0 && col("doc_id") < 2000)
      .select(col("doc_id"), col("text"))
    val truncated = base.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) div 2, 1))").as("text"))
    val copies = base.select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    Dedup.jaccardEstQuality(base.unionByName(truncated).unionByName(copies),
      shingleN = 2, k = 16)
  }

  /** D14 — containment dedup over a corpus with planted TRUNCATED
    * copies (doc_id+1e6 carries the first half of the original's
    * text): the canonical asymmetric-dup case, prefix ⊂ whole.
    * Prefix shingles are a near-subset of the original's (only the
    * cut-boundary token can differ), so containment runs high while
    * symmetric Jaccard sits near 0.5 — exactly the signal split this
    * operator exists for. Character halving is code-point-based in
    * both engines (t9 pins the length parity).
    */
  def containment(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), col("text"))
    val truncated = base.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) div 2, 1))").as("text"))
    Dedup.containmentPairs(base.unionByName(truncated), minContainE6 = 500000L)
  }

  /** D21 — LSH band-configuration tuning over a corpus with planted
    * near-duplicates at three mutation strengths (9/10, 3/4 and 1/2
    * prefix copies — Jaccard ≈ 0.9 / 0.75 / 0.5, straddling the
    * τ = 1/2 truth threshold so the configs' S-curves actually
    * separate). Base slice doc_id % 20 = 0 AND doc_id < 20000: the
    * modulo spreads the sample, the absolute bound keeps it
    * FIXED-SIZE as the corpus grows — a tuning harness dials (b, r)
    * from a sample, so its cost must be O(1) in corpus size, not a
    * corpus share (the all-pairs truth stage would otherwise grow
    * quadratically with the slice; caught by the k=30 scale sweep at
    * exponent 1.1 before this bound).
    */
  def lshTuningQ(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .filter(pmod(col("doc_id"), lit(20)) === 0 && col("doc_id") < 20000)
      .select(col("doc_id"), col("text"))
    def prefixCopy(offset: Long, num: Int, den: Int) = base.select(
      (col("doc_id") + offset).as("doc_id"),
      expr(s"substring(text, 1, greatest(length(text) * $num div $den, 1))").as("text"))
    val corpus = base
      .unionByName(prefixCopy(1000000L, 9, 10))
      .unionByName(prefixCopy(2000000L, 3, 4))
      .unionByName(prefixCopy(3000000L, 1, 2))
    Dedup.lshTuning(corpus)
  }

  /** D22 — winnowing (MOSS) local duplicate detection over a corpus
    * with planted mosaics: each mosaic doc is the SECOND HALF of a
    * base doc's whitespace tokens plus a unique suffix — a long shared
    * token run that the winnowing guarantee (any run ≥ w + k − 1 = 8
    * tokens yields a shared fingerprint) must detect, while MinHash
    * would score the pair at only ~0.5 whole-document similarity.
    */
  def winnowingQ(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text"))
    val mosaic = base
      .withColumn("__rt", filter(split(col("text"), "\\s+"), t => t =!= ""))
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(
          array_join(expr("slice(__rt, size(__rt) div 2 + 1, size(__rt))"), " "),
          lit(" zz"), pmod(col("doc_id"), lit(89)).cast("string")).as("text"))
    Dedup.winnowPairs(base.unionByName(mosaic), k = 4, w = 5, minShared = 2L)
  }

  /** D23 — asymmetric containment dedup over the d-family corpus
    * slice, with PLANTED fragments: every 50th doc contributes a
    * synthetic fragment (its first max(5, 40%) tokens, a new id) that
    * is fully CONTAINED in its source — high containment, low Jaccard,
    * exactly the pair family MinHash-LSH banding cannot surface. The
    * detector (rare-shingle posting probe + exact verify,
    * Dedup.containmentPairs) must recover them.
    */
  def containmentQ(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text"))
    val frags = base.filter(pmod(col("doc_id"), lit(50)) === 0)
      .withColumn("__t", TextAnalysis.tokens(lower(col("text"))))
      .select((col("doc_id") + 3000000L).as("doc_id"),
        array_join(expr("slice(__t, 1, greatest(5, (size(__t) * 2) div 5))"),
          " ").as("text"))
    Dedup.rareShingleContainment(base.unionByName(frags))
  }

  /** D24 — containment-probe RECALL observed (d21's discipline applied
    * to d23): plant fragments at three containment strengths — pure
    * prefix (cont 1.0), prefix + unique noise at half and equal prefix
    * length (cont ≈ 0.65 / ≈ 0.45) — plus an ADVERSARIAL bucket where
    * two sibling fragments SHARE their noise tokens, and measure the
    * production rare-shingle probe (Dedup.rareShingleCandidates)
    * against exact all-pairs containment truth on an absolutely
    * bounded slice (doc_id < 2000 — never a corpus share, the d21
    * lesson). Expected shape, measured not asserted: the df ≥ 2 floor
    * makes the probe NOISE-ROBUST (unique noise shingles never enter
    * the rarity ranking, so diluted fragments still recall ~1.0), but
    * CORRELATED noise — shared boilerplate among the fragments
    * themselves — forms df-2 shingles that out-rare the prefix and
    * steal the probe budget, so the d bucket's recall collapses. That
    * is the operator's honest failure mode: near-duplicate noise among
    * the fragments, exactly what a boilerplate-wrapped crawl produces,
    * and why production runs d23 AFTER boilerplate stripping (t5/t17).
    */
  def containmentRecallQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Eager checkpoints on the BOUNDED audit frames (r17 optimization
    // round): base is capped at doc_id < 2000 by construction (the
    // recall harness grades a fixed-size slice at any corpus scale),
    // so materializing it — and the shingle table derived from it
    // below — is O(audit slice), never O(corpus). Without them this
    // query's plan re-derived the planted corpus and its shingles in
    // EVERY sweep branch: 4 maxDf caps × (2 posting sides + df table)
    // plus both truth sides = 90 parquet scans of documents in one
    // plan (plans/r17/d24_containment_recall_before.txt); AQE cannot
    // reuse them because each branch's pushed filters differ. After:
    // documents is scanned once (..._after.txt).
    val base = docs(s, dir).filter(col("doc_id") < 2000)
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val pl = base.filter(pmod(col("doc_id"), lit(20)) === 0)
      .withColumn("__t", TextAnalysis.tokens(lower(col("text"))))
      .select(col("doc_id"),
        expr("slice(__t, 1, greatest(5, (size(__t) * 2) div 5))").as("pfx"))
    def noise(keyOff: Long, nExpr: String) =
      expr(s"transform(sequence(1, $nExpr), " +
        s"j -> concat('zz', cast(doc_id + $keyOff as string), 'x', cast(j as string)))")
    def variant(off: Long, label: String, noiseArr: Option[org.apache.spark.sql.Column]) =
      pl.select((col("doc_id") + off).as("doc_id"),
        array_join(noiseArr.map(n => concat(col("pfx"), n)).getOrElse(col("pfx")), " ")
          .as("text"),
        lit(label).as("strength"))
    val half = "greatest(2, size(pfx) div 2)"
    val planted = variant(4000000L, "a_full", None)
      .unionByName(variant(5000000L, "b_two_thirds", Some(noise(5000000L, half))))
      .unionByName(variant(6000000L, "c_half", Some(noise(6000000L, "size(pfx)"))))
      .unionByName(variant(7000000L, "d_shared_noise", Some(noise(0L, half))))
      .unionByName(variant(8000000L, "d_shared_noise", Some(noise(0L, half))))
    val corpus = base.unionByName(planted.drop("strength"))
    // The shingle table feeds 4 sweep branches (×2 posting sides each)
    // plus both truth sides; checkpointing it makes each a cheap
    // in-memory rescan of ~|audit slice| rows instead of a repeated
    // tokenize+shingle pass (see the base checkpoint note above).
    val sh = Dedup.withShingles(corpus, "text", 3)
      .select(col("doc_id"), col("sh")).filter(size(col("sh")) > 0)
      .localCheckpoint(true)
    // df-cap SENSITIVITY sweep (r12 verdict item #8): maxDf = 64 is a
    // corpus-relative dial — at 10⁹ docs the df ≤ 64 slice is vastly
    // thinner — so the harness grades the probe across caps. Measured
    // shape (BENCHNOTES r13): recall is FLAT from 16 to 256 at both
    // SFs (the rareK=5 witness slots fill from df ≤ 16 here) and
    // collapses at 2, where the cap starves the witness slots for
    // docs whose every shared shingle has df > 2 — the cliff is
    // witness AVAILABILITY, not similarity. Sizing rule in SCALE.md
    // §9.1: keep maxDf at a df-distribution quantile that leaves
    // ≥ rareK in-cap shingles per doc; raising it further buys no
    // recall and costs fan-out (≤ rareK·maxDf) linearly.
    val maxDfs = Seq(2L, 16L, 64L, 256L)
    val cands = maxDfs.map(m =>
        Dedup.rareShingleCandidates(sh, rareK = 5, maxDf = m)
          .withColumn("max_df", lit(m)))
      .reduce(_.unionByName(_))
    val shSorted = sh.select(col("doc_id"), array_sort(col("sh")).as("ssh"))
    val pa = shSorted.join(planted.select(col("doc_id"), col("strength")), "doc_id")
      .select(col("doc_id").as("pa"), col("strength"), col("ssh").as("sha"))
    val pb = shSorted.join(base.select(col("doc_id")), "doc_id")
      .select(col("doc_id").as("pb"), col("ssh").as("shb"))
    // Exact truth: bounded all-pairs (planted × base slice) — the
    // deliberate d2/d21-style oracle stage, never a corpus share.
    val truth = pa.crossJoin(pb)
      .withColumn("inter",
        graft.functions.ArrayFunctions.sortedIntersectSize(col("sha"), col("shb"))
          .cast("long"))
      .withColumn("cont_e6", expr("inter * 1000000 div size(sha)"))
      .filter(col("cont_e6") >= 400000L)
      .select(col("pa"), col("strength"), col("pb"), col("cont_e6"))
    truth
      .crossJoin(maxDfs.toDF("max_df"))
      .join(cands.select(col("max_df"), col("a").as("pa"), col("b").as("pb"),
          lit(1).as("hit")),
        Seq("max_df", "pa", "pb"), "left")
      .groupBy(col("strength"), col("max_df"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_found"),
        min(col("cont_e6")).as("min_cont_e6"))
      .withColumn("recall_e6", expr("n_found * 1000000 div n_truth"))
  }

  /** T18 — per-doc token entropy (exact e6): the low-entropy signal
    * for generated/template text whose repetition fraction looks
    * normal.
    */
  def tokenEntropyQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenEntropy(docs(s, dir))

  /** T18 oracle: one ln() per (doc, distinct token) of the exact
    * tf/dl quotient, e6-floored before the exact sum (x31's
    * discipline); the normalized form divides the truncated entropy
    * by ln(n_distinct) in doubles — identical IEEE ops both engines.
    */
  // lazy: declared above the shared `toksSql` fragment in file order —
  // a strict val would interpolate null at object init.
  lazy val tokenEntropySql: String = s"""
    WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
    tf AS (
      SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
            FROM d)
      GROUP BY doc_id, dl, term
    ),
    s AS (
      SELECT doc_id, dl AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(-SUM(tf * CAST(floor(ln(CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE))
                                       * 1000000.0) AS BIGINT)) AS BIGINT) AS neg
      FROM tf GROUP BY doc_id, dl
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(neg // n_tokens AS BIGINT) AS entropy_e6,
           CAST(CASE WHEN n_distinct = 1 THEN NULL
                     ELSE floor(CAST(neg // n_tokens AS DOUBLE)
                                / ln(CAST(n_distinct AS DOUBLE))) END AS BIGINT)
             AS norm_entropy_e6
    FROM s"""

  /** X43 — near-dup decontaminated train/test split: the train split
    * is probed against the PROTECTED eval split through the
    * production LSH + exact-verify path, and any train doc with an
    * exact or near duplicate in the eval set loses its keep bit —
    * the leakage gate that d8 (exact n-gram windows) and d18
    * (embeddings) don't cover: lexically near-identical but not
    * window-identical rewrites. The eval set carries planted
    * 3/4-prefix leaks of every train doc with id % 20 = 0, so the
    * gate demonstrably fires; organic test docs (id % 10 = 5) are
    * disjoint and keep their train near-misses intact.
    */
  def splitDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val test = d.filter(pmod(col("doc_id"), lit(10)) === 5)
      .select(col("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substring(text, 1, greatest(3 * length(text) div 4, 1))").as("text")))
    val train = d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text"))
    Dedup.incrementalDedup(train, test, minJaccardE6 = 500000L)
      .withColumn("kept", col("verdict") === lit("new"))
  }

  /** D16 — incremental batch-vs-corpus dedup. Corpus = docs with
    * id % 4 = 0; the incoming batch mixes genuinely-fresh docs
    * (id % 4 = 1), byte-exact copies of corpus docs (re-id'd +1e6),
    * and 3/4-prefix truncations of corpus docs (+2e6) — so all three
    * verdicts are exercised and the planted copies are known.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.filter(pmod(col("doc_id"), lit(4)) === 0).select(col("doc_id"), col("text"))
    val fresh = d.filter(pmod(col("doc_id"), lit(4)) === 1).select(col("doc_id"), col("text"))
    val exactCopies = d.filter(pmod(col("doc_id"), lit(8)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val nearCopies = d.filter(pmod(col("doc_id"), lit(8)) === 4)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("substring(text, 1, greatest(3 * length(text) div 4, 1))").as("text"))
    Dedup.incrementalDedup(
      fresh.unionByName(exactCopies).unionByName(nearCopies), corpus,
      minJaccardE6 = 500000L)
  }

  /** X24 — per-domain quota cap: top-40 docs per source by the
    * quality score, deterministic tie-break on doc_id.
    */
  def domainCap(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerDomain(TextAnalysis.features(docs(s, dir)),
        domainCol = "source", idCol = "doc_id",
        qualityCol = "quality_e6", cap = 40)
      .select(col("source"), col("doc_id"), col("quality_e6"), col("rank_in_domain"))

  /** X25 — deterministic content-hash training shards (8 shards). */
  def trainShards(s: SparkSession, dir: String): DataFrame =
    Sampling.trainShards(docs(s, dir), nShards = 8)

  /** T7 — vocabulary head: top-50 tokens by corpus frequency. */
  def vocabTopK(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabTopK(docs(s, dir), k = 50)

  /** T8 — token-window chunking (128-token chunks, 32-token overlap). */
  def chunking(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkByTokens(docs(s, dir), chunkTokens = 128, overlap = 32)

  /** C1 — deterministic integer-arithmetic k-means over the embedding
    * corpus (8 clusters, 3 Lloyd iterations), oracle-checked through
    * the full iterative fit.
    */
  def kmeans(s: SparkSession, dir: String): DataFrame =
    KMeans.assignments(embs(s, dir), k = 8, iters = 3)

  /** C3 — cluster-quality metrics over the c1 fit: per-cluster size,
    * compactness (mean own-centroid distance) and separation (mean/max
    * of the own-vs-nearest-other distance ratio).
    */
  def kmeansQuality(s: SparkSession, dir: String): DataFrame =
    KMeans.clusterQuality(embs(s, dir), k = 8, iters = 3)

  /** C4 — prototype pruning over the c1 fit (SemDeDup/D4 diversity
    * curation): the closest 25% per cluster marked for removal.
    */
  def prototypePrune(s: SparkSession, dir: String): DataFrame =
    KMeans.prototypePrune(embs(s, dir), k = 8, iters = 3, prunePct = 25)

  /** D9 — near-dup CLUSTER assignment (connected components over
    * LSH-verified pairs). The raw sf slices carry no organic near-dup
    * pairs, so the query derives a deterministic duplicate family per
    * kept doc in-plan: copy1 = text + one extra token, copy2 = copy1 +
    * one more — a transitive triple whose pairwise Jaccards are all
    * high but distinct. The oracle recomputes the identical derived
    * set, the identical MinHash+LSH candidate generation, then
    * resolves components by recursive label propagation — so a hash
    * match proves candidate generation, exact verification, AND the
    * large-star/small-star contraction agree with a transitive-closure
    * ground truth.
    */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    dupClustersOver(docs(s, dir))

  /** The derived duplicate-triple corpus shared by d9/d11 (and
    * ScaleBench's k× replicas).
    */
  private[graft] def derivedTriples(allDocs: DataFrame): DataFrame = {
    val base = allDocs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text"))
    // Perturb BEFORE renaming the id (see embeddingDups note).
    val c1 = base
      .select(col("doc_id"),
        concat(col("text"), lit(" q"), pmod(col("doc_id"), lit(89)).cast("string")).as("text"))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val c2 = base
      .select(col("doc_id"),
        concat(col("text"), lit(" q"), pmod(col("doc_id"), lit(89)).cast("string"),
          lit(" r"), pmod(col("doc_id"), lit(83)).cast("string")).as("text"))
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    base.unionByName(c1).unionByName(c2)
  }

  def dupClustersOver(allDocs: DataFrame): DataFrame =
    Dedup.dupClusters(derivedTriples(allDocs), minJaccardE6 = 500000L)

  /** D15 — quality-aware survivor selection over the d9 corpus: the
    * derived triples grow monotonically (base < +q < +q+r suffixes),
    * so the kept member is the LONGEST variant — the opposite of the
    * min-id rule, which keeps the shortest here. A real curation
    * policy choice made visible.
    */
  def qualityDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.keepBestPerCluster(derivedTriples(docs(s, dir)), minJaccardE6 = 500000L)

  /** D11 — transitive-correct dedup: the derived corpus reduced to
    * cluster minima + singletons via connected components. Oracle =
    * the d9 closure's complement.
    */
  def nearDedupCC(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDedupCC(derivedTriples(docs(s, dir)), minJaccardE6 = 500000L)
      .select(col("doc_id"))

  /** D12 — substring-level duplication over the derived triple corpus
    * (each copy shares every base window except the boundary ones its
    * appended suffix perturbs, so shared fractions are high but
    * distinct per family — a real gradient for the oracle to pin).
    */
  def substringDup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDupStats(derivedTriples(docs(s, dir)), k = 8)

  /** D20 — maximal duplicated spans over the same planted-duplicate
    * corpus as d12: base docs and their suffixed copies share the
    * whole text prefix, so real multi-window spans exist.
    */
  def dupSpansQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(derivedTriples(docs(s, dir)), k = 8)

  /** D13 — window-level decontamination over a corpus with a planted
    * 10-token canary: every benchmark doc (% 97) and a deterministic
    * slice of corpus docs (% 7 == 3) get the same appended phrase, so
    * contaminated docs share its three 8-token windows verbatim with
    * the bench side (raw docs share 3-gram hashes but essentially no
    * verbatim 8-token runs, which would leave this oracle vacuous).
    */
  private val CanaryPhrase =
    " shared benchmark canary sequence alpha beta gamma delta epsilon zeta"

  def windowDecontam(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(97)) === 0 || pmod(col("doc_id"), lit(7)) === 3,
          lit(CanaryPhrase)).otherwise(lit(""))).as("text"))
    Dedup.windowDecontamination(planted, pmod(col("doc_id"), lit(97)) === 0, k = 8)
  }

  /** T5 — Gopher-style repetition quality stats. */
  def repetitionStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(docs(s, dir))

  /** T6 — PII scan over a corpus with deterministically planted PII
    * (the raw synthetic docs carry none, which would make the oracle
    * vacuous): doc_id-derived email/IP/SSN/phone suffixes appended
    * in-plan, identically on both sides. The md5 of the redacted text
    * pins the full replacement output, not just the counts.
    */
  def piiScan(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact u"), pmod(col("doc_id"), lit(100)).cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" host 10."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".0.1"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0, lit(" ssn 123-45-6789")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(17)) === 0, lit(" tel +01 555 123 4567")).otherwise(lit("")))
        .as("text"))
    TextAnalysis.piiStats(planted)
      .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_ssn"),
        col("n_phone"), col("pii_total"), col("redacted_md5"))
  }

  /** T9 — charset composition stats over a corpus with deterministic
    * planted non-ASCII and digit/case noise (the raw synthetic docs
    * are pure lowercase ASCII, which would leave the non-ASCII and
    * uppercase columns vacuously zero).
    */
  def charsetStats(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" déjà vu Ünïcode ©2024"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(9)) === 0, lit(" 12 345 MIXED Case"))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.charsetStats(planted)
      .select(col("doc_id"), col("n_cp"), col("n_alpha"), col("n_digit"),
        col("n_upper"), col("n_space"), col("n_non_ascii"),
        col("alpha_frac_e6"), col("non_ascii_frac_e6"))
  }

  /** T15 — readability scoring. The synthetic docs carry no sentence
    * punctuation (readability would be vacuously NULL), so sentence
    * structure is planted deterministically: every doc gets a final
    * period, and doc_id mod 3 / mod 7 slices get extra sentences with
    * different terminators — n_sentences then varies 1..4 and both
    * Flesch scores get real spread.
    */
  def readabilityQ(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit("."),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" It reads twice as well! Truly?")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(" A terse coda."))
          .otherwise(lit(""))).as("text"))
    TextAnalysis.readability(planted)
  }

  /** T15 oracle: same planted sentences, same Java/RE2-neutral
    * classes; `//` truncates like Spark `div` (all operands
    * non-negative before the final subtraction).
    */
  val readabilitySql: String = """WITH p15 AS (
    SELECT doc_id, text || '.'
      || CASE WHEN doc_id % 3 = 0 THEN ' It reads twice as well! Truly?' ELSE '' END
      || CASE WHEN doc_id % 7 = 0 THEN ' A terse coda.' ELSE '' END AS text
    FROM documents
  ), c15 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(text, '[AEIOUYaeiouy]+')) AS BIGINT) AS n_syllables
    FROM p15
  )
  SELECT doc_id, n_words, n_sentences, n_syllables,
         CASE WHEN n_words = 0 OR n_sentences = 0 THEN NULL
              ELSE CAST(206835 - (1015 * n_words) // n_sentences
                               - (84600 * n_syllables) // n_words AS BIGINT)
         END AS fre_e3,
         CASE WHEN n_words = 0 OR n_sentences = 0 THEN NULL
              ELSE CAST((390 * n_words) // n_sentences
                        + (11800 * n_syllables) // n_words - 15590 AS BIGINT)
         END AS fk_grade_e3
  FROM c15"""

  /** D8 — decontamination overlap vs the doc_id % 97 == 0 "benchmark"
    * slice (a deterministic ~1% stand-in for an eval suite).
    */
  def decontamination(s: SparkSession, dir: String): DataFrame =
    Dedup.decontaminationOverlap(docs(s, dir), pmod(col("doc_id"), lit(97)) === 0)

  /** D10 — the same contamination answer through the Bloom-prefilter
    * scale path; shares d8's oracle because false positives are
    * removed exactly.
    */
  def decontaminationBloom(s: SparkSession, dir: String): DataFrame =
    Dedup.decontaminationOverlapBloom(docs(s, dir), pmod(col("doc_id"), lit(97)) === 0)

  def simhashFingerprints(s: SparkSession, dir: String): DataFrame =
    Dedup.withSimhash(docs(s, dir).filter(col("doc_id") < 200))
      .select(col("doc_id"), col("simhash32"))

  /** Embedding near-dup detection through the SCALE path: sign-LSH
    * bucket prefilter → exact cosine verify (no all-pairs self-join
    * anywhere in the plan). The raw test embeddings contain no
    * high-cosine pairs, so the query derives deterministic near-dups
    * in-plan: each kept vector gets a copy (id + 1e6) with every
    * element scaled by 1 + ((vec_id + dim_idx) % 7 - 3)/100 — cosine
    * ≈ 0.9995 to its original, near-orthogonal to everything else.
    * The DuckDB oracle computes the SAME derived set ALL-PAIRS, so a
    * hash match is a measured 100%-recall proof for the LSH route on
    * genuine near-duplicates, not just a rows>0 smoke check.
    */
  def embeddingDups(s: SparkSession, dir: String): DataFrame = {
    val base = embs(s, dir).filter(pmod(col("vec_id"), lit(10)) === 0)
    val origs = base.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    // Perturb BEFORE renaming the id: with both in one select, the
    // lambda's col("vec_id") resolves to the shifted output alias
    // (vec_id + 1e6), silently rotating every factor by 1e6 % 7.
    val copies = base.select(col("vec_id"),
      transform(col("embedding"), (x, d) =>
        x.cast("double") *
          (lit(1.0) + (pmod(col("vec_id") + d, lit(7)) - 3).cast("double") / 100.0))
        .as("embedding"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Dedup.embeddingDupPairsLsh(origs.unionByName(copies), minCos = 0.9, dim = 64)
  }

  /** D18 — semantic decontamination against a derived eval set:
    * contaminated members = d6-style ±3%-perturbed copies of the
    * vec_id % 17 == 0 slice (cos ≈ 0.9995 to their corpus original),
    * clean members = REVERSED vectors of the % 17 == 5 slice
    * (deterministic, near-orthogonal to everything). The DuckDB
    * oracle scores the SAME eval set ALL-PAIRS against the corpus, so
    * a hash match measures 100% recall for the cross-corpus LSH
    * route — and that no clean eval member false-positives.
    */
  def semanticDecontamQ(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val corpus = all.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val contaminated = all.filter(pmod(col("vec_id"), lit(17)) === 0)
      .select(col("vec_id"),
        transform(col("embedding"), (x, d) =>
          x.cast("double") *
            (lit(1.0) + (pmod(col("vec_id") + d, lit(7)) - 3).cast("double") / 100.0))
          .as("embedding"))
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    val clean = all.filter(pmod(col("vec_id"), lit(17)) === 5)
      .select((col("vec_id") + 3000000L).as("vec_id"),
        transform(reverse(col("embedding")), x => x.cast("double")).as("embedding"))
    Dedup.semanticDecontam(corpus, contaminated.unionByName(clean),
      minCos = 0.9, dim = 64)
  }

  def knnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** S4/X22 — metadata-filtered exact ANN: restrict the corpus by a
    * document attribute (here lang = 'en' via the embeddings↔documents
    * id join), THEN score and rank. Pre-filtering is the semantically
    * correct order for filtered vector search — post-filtering a
    * global top-k under-fills k whenever the filter is selective. The
    * filter is an equi-join the optimizer is free to broadcast either
    * way; the scoring stage is s1's broadcast-queries shape unchanged.
    */
  def filteredKnn(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val allowed = docs(s, dir).filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 3), e.join(allowed, "vec_id"), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Ivf.ivfTopK(e.filter(col("vec_id") < 5), e, k = 5, nCentroids = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** T11 — hashed-n-gram linear quality classifier over the full
    * corpus (TextAnalysis.hashedNgramScore).
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashedNgramScore(docs(s, dir))

  /** C2 — a CCNet-style curation chain, end-to-end ORACLE-CHECKED
    * (complementing Curation.curate, the richer spec-pinned
    * composition): exact dedup (lowest id per normalized fingerprint)
    * -> language ID filter (en) -> hashed-ngram quality scoring ->
    * head/middle/tail bucketing -> per-bucket deterministic
    * downsampling (keep-all / 50% / 10% by id-hash). The output is
    * the training-set manifest. Every stage is a scan projection or a
    * hash-keyed aggregation the optimizer pipelines — the whole chain
    * is ONE pass over the corpus plus the dedup shuffle; at 100 TB
    * nothing in it is quadratic or driver-bound.
    */
  def curationPipeline(s: SparkSession, dir: String): DataFrame =
    curationPipelineOn(docs(s, dir))

  def curationPipelineOn(d: DataFrame): DataFrame = {
    import graft.functions.StageBarrier
    val unique = Dedup.exactDedup(d)
    // Both filter stages run over BARRIER-staged expensive columns
    // (r18, guide §4.4): without the barriers PushPredicateThroughNonJoin
    // re-inlined the staged trees into the pushed-down scan filter —
    // the full score-aggregate tree 4× and the langId tokenize ~15×
    // per input row (plans/r17/c2_curation_pipeline_after.txt
    // Filter(2); warm 1.35 s → 0.4 s class). The barrier pins each
    // tree to ONE evaluation per surviving row; values are unchanged
    // (PlanSpec's c2 case counts one score tree). Both sit in
    // Projects, as StageBarrier's usage contract requires.
    // ONE tokenize feeds both stages: langId and the gram expansion
    // share the staged `__toks` (the coalesce('') only differs from
    // langId's bare tokens(lower(text)) on NULL text, where both
    // forms already resolve to 'und' — count_in_set over NULL and
    // over [] both fail every hit threshold — so the en-filter's
    // verdict is unchanged row for row).
    val en = unique
      .withColumn("__toks",
        StageBarrier(TextAnalysis.tokens(lower(coalesce(col("text"), lit(""))))))
      .filter(TextAnalysis.langIdFromToks(col("__toks"), col("text")) === "en")
    val scored = en
      .withColumn("__grams", TextAnalysis.ngramFeaturesFromToks(col("__toks")))
      .withColumn("score_milli", StageBarrier(TextAnalysis.ngramScoreMilli(col("__grams"))))
      .select(col("doc_id"), size(col("__grams")).cast("long").as("n_grams"),
        col("score_milli"))
    val bucketed = scored
      .withColumn("bucket",
        when(col("score_milli") > 5000, lit("head"))
          .when(col("score_milli") >= -2500, lit("middle"))
          .otherwise(lit("tail")))
    val quota = when(col("bucket") === "head", lit(10000L))
      .when(col("bucket") === "middle", lit(5000L))
      .otherwise(lit(1000L))
    bucketed.filter(Sampling.hashBucket(col("doc_id")) < quota)
      .select(col("doc_id"), col("n_grams"), col("score_milli"), col("bucket"))
  }

  /** T12 — n-gram novelty accounting: for each document (in doc_id
    * ingest order), how many of its distinct 3-token shingles are
    * FIRST occurrences corpus-wide, and the novelty fraction. The
    * running aggregate of this curve is how corpus builders detect
    * diminishing returns — when marginal novelty collapses, more of
    * the same source stops adding information (the scaling-laws
    * dedup argument). Computed without any ordered scan: a shingle's
    * first owner is min(doc_id) over its postings — one shingle-keyed
    * aggregation plus a join back, both equi on the shingle hash.
    */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNoveltyOn(docs(s, dir))

  def ngramNoveltyOn(d: DataFrame): DataFrame = {
    val sh = d
      .select(col("doc_id"), explode(Dedup.shingleHashes(col("text"), 3)).as("shv"))
    val firstOwner = sh.groupBy(col("shv")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstOwner, Seq("shv"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_e6", expr("n_novel * 1000000 div n_shingles"))
  }

  /** X38 — incremental novelty: the t12 metric in its production
    * form — a NEW crawl increment measured against an EXISTING corpus
    * shingle index (the d16 batch-vs-corpus pattern). The index is
    * the distinct-shingle set a deployment maintains incrementally;
    * the join is shingle-keyed and scales with the BATCH, not the
    * corpus — the property that makes per-increment "is this crawl
    * worth ingesting" decisions affordable at 100 TB. Here corpus =
    * even doc_ids, batch = odd.
    */
  def incrementalNovelty(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    incrementalNoveltyOn(
      d.filter(pmod(col("doc_id"), lit(2)) === 0),
      d.filter(pmod(col("doc_id"), lit(2)) === 1))
  }

  def incrementalNoveltyOn(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val cIdx = corpus
      .select(explode(Dedup.shingleHashes(col("text"), 3)).as("shv"))
      .distinct()
      .withColumn("__seen", lit(1))
    batch
      .select(col("doc_id"), explode(Dedup.shingleHashes(col("text"), 3)).as("shv"))
      .join(cIdx, Seq("shv"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_e6", expr("n_novel * 1000000 div n_shingles"))
  }

  /** X36 — per-source quality-score calibration: the raw hashed-ngram
    * score is rank-normalized WITHIN each source (percent_rank over a
    * (score, doc_id) total order). Curation thresholds set on raw
    * scores systematically starve domains whose score distribution
    * sits lower (code vs prose, forum vs news); rank calibration is
    * the standard fix — "keep the top 30% of each domain" becomes a
    * single predicate on pct_rank. The window sorts per source
    * partition, the same bounded shape as x24's domain cap.
    */
  def scoreCalibration(s: SparkSession, dir: String): DataFrame = {
    // Score inline as a projection keeping source — joining the t11
    // output back to the corpus just to re-attach a column would cost
    // a second scan plus a corpus-wide shuffle at scale.
    val scored = docs(s, dir).select(col("doc_id"), col("source"),
      TextAnalysis.ngramScoreMilli(
        TextAnalysis.ngramFeatures(coalesce(col("text"), lit("")))).as("score_milli"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_milli"), col("doc_id"))
    scored.select(col("doc_id"), col("source"), col("score_milli"),
      percent_rank().over(w).as("pct_rank"))
  }

  /** X37 — cross-source n-gram overlap matrix (the dataset-overlap
    * report of Lee et al.-style dedup audits): for each source pair,
    * the number of distinct 3-token shingles they share. Exact-dup
    * matrices miss near-misses entirely; shingle overlap is the
    * measure that catches templated/boilerplate bleed between
    * datasets. The join is shingle-keyed (equi); per-shingle fan-out
    * is bounded by sources², never corpus².
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapOn(docs(s, dir))

  def sourceOverlapOn(d: DataFrame): DataFrame = {
    val sh = d
      .select(col("source"), explode(Dedup.shingleHashes(col("text"), 3)).as("shv"))
      .distinct()
    sh.select(col("source").as("source_a"), col("shv"))
      .join(sh.select(col("source").as("source_b"), col("shv")), Seq("shv"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** S5 — PQ-compressed ANN (ADC): candidates are encoded to m=8
    * 4-bit codes (64× smaller than the float32 vectors), queries score
    * against the codebook reconstruction. Approximation quality vs s1
    * is pinned in SimilaritySpec; the oracle replays codebook
    * training, encoding, reconstruction, and ranking in SQL.
    */
  def knnPq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Pq.pqTopK(e.filter(col("vec_id") < 5), e, k = 5, m = 8, kCode = 16)
      .select(col("query_id"), col("neighbor_id"), col("approx_cos"), col("rank"))
  }

  /** S6 — hard-negative mining over a corpus with planted near-dup
    * positives (the d6 orig+perturbed-copy derivation): each query's
    * ~0.999-cosine twin must be EXCLUDED by the positive threshold,
    * and the returned negatives are the hardest sub-threshold
    * candidates.
    */
  def hardNegativesQ(s: SparkSession, dir: String): DataFrame = {
    val base = embs(s, dir)
    val origs = base.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    // Perturb BEFORE renaming the id (the d6 gotcha: in one select the
    // lambda's col("vec_id") resolves to the shifted output alias).
    val copies = base.select(col("vec_id"),
      transform(col("embedding"), (x, d) =>
        x.cast("double") * (lit(1.0) + (pmod(col("vec_id") + d, lit(7)) - 3).cast("double") / 100.0))
        .as("embedding"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val v = origs.unionByName(copies)
    Similarity.hardNegatives(v.filter(col("vec_id") < 5), v, k = 5, posThr = 0.9)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  def knnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.lshTopK(e.filter(col("vec_id") < 5), e, k = 5, dim = 64, planes = 6, tables = 8)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** S8 — IVF-PQ: cell pruning × code compression, the production ANN
    * composition (Pq.ivfPqTopK).
    */
  def knnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Pq.ivfPqTopK(e.filter(col("vec_id") < 5), e, k = 5,
      nCentroids = 16, nProbe = 4, m = 8, kCode = 16)
      .select(col("query_id"), col("neighbor_id"), col("approx_cos"), col("rank"))
  }

  /** S9 — SQ8 scalar-quantized ANN (asymmetric): corpus stored as
    * uint8 codes against a per-dimension affine grid, queries at full
    * precision ([[Similarity.sq8TopK]]). The oracle replays grid
    * training, encoding, dequantization and ranking in SQL.
    */
  def knnSq8(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.sq8TopK(e.filter(col("vec_id") < 5), e, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("approx_cos"), col("rank"))
  }

  /** S10 — 1-bit binary-quantized ANN: Hamming shortlist over the
    * one-long-per-vector code index, exact-cosine rerank of the top
    * k·4 codes. Same queries/corpus/k as s1, so s7's recall harness
    * and the brute baseline apply directly.
    */
  def knnBq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.bqTopK(e.filter(col("vec_id") < 5), e, k = 5, rerank = 4)
  }

  /** S7 — the ANN evaluation harness as a query: recall@5 of each
    * approximate method (sign-LSH, IVF, PQ-ADC, SQ8) against the exact
    * brute-force top-5, over the same queries and corpus as s1/s2/s3/
    * s5. "Measure, don't guess" made first-class: the number a
    * production deployment tunes (tables/planes, nProbe, codebook
    * size) against. Each method's pair set semi-joins the exact set —
    * tiny frames (queries × k rows), so the report costs barely more
    * than the searches themselves.
    */
  def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < 5)
    // NOT checkpointed (measured, r17 optimization round): the exact
    // top-k is the semi-join right side of all six methods plus the
    // denominator, and the static plan shows 7 brute subtrees — but
    // at runtime AQE stage reuse already dedups them (the legs are
    // canonically identical), so an eager localCheckpoint only ADDED
    // an extra materialization pass per frame build: cold min-of-5
    // 1.88 s → 2.95 s, warm 1.08 → 1.21 with it. Reverted.
    val brute = Similarity.bruteForceTopK(q, e, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // Denominator comes from the brute result itself, in-plan (a
    // one-row broadcast) — a hard-coded queries×k constant would go
    // stale the moment k or the query filter changed, and the oracle
    // would agree with the wrong number.
    val denom = brute.agg(count(lit(1)).as("n_total"))
    val methods: Seq[(String, DataFrame)] = Seq(
      "ivf" -> Ivf.ivfTopK(q, e, k = 5, nCentroids = 16, nProbe = 4),
      "lsh" -> Similarity.lshTopK(q, e, k = 5, dim = 64, planes = 6, tables = 8),
      "pq" -> Pq.pqTopK(q, e, k = 5, m = 8, kCode = 16),
      "ivfpq" -> Pq.ivfPqTopK(q, e, k = 5, nCentroids = 16, nProbe = 4, m = 8, kCode = 16),
      "sq8" -> Similarity.sq8TopK(q, e, k = 5),
      "bq" -> Similarity.bqTopK(q, e, k = 5, rerank = 4))
    methods.map { case (name, df) =>
      df.select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .join(broadcast(denom))
        .select(lit(name).as("method"), col("n_hits"), col("n_total"),
          (col("n_hits").cast("double") / col("n_total")).as("recall"))
    }.reduce(_ unionByName _)
  }

  def modalityStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.modalityStats(
      Multimodal.extractFeatures(s, Multimodal.asMediaTable(docs(s, dir))))

  def frameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.extractFeatures(s, Multimodal.asMediaTable(
        docs(s, dir).filter(col("doc_id") < 300))), stride = 2)

  /** MM4 — exact media dedup over a corpus with planted byte-identical
    * copies (doc_id+1e6 carries the same text-derived payload).
    */
  def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"))
    val copies = base.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Multimodal.mediaDedup(Multimodal.asMediaTable(base.unionByName(copies)))
  }

  /** MM5 — perceptual (aHash) media near-dup over the mm4 slice plus
    * planted near-copies (+1e6 carries the text with a 2-char suffix —
    * byte-different, so md5 dedup misses it; the trailing pixel
    * window[s] flip at most a few signature bits, so the Hamming ≤ 3
    * radius catches it whenever the suffix doesn't shift the chunk
    * grid).
    */
  def perceptualDedupQ(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"))
    val near = base.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" x")).as("text"))
    Multimodal.perceptualDedup(Multimodal.asMediaTable(base.unionByName(near)))
  }

  private val mm5PowersList: String =
    Multimodal.SigPowers.map(_.toString).mkString("[", ", ", "]")
  private val mm5MasksList: String =
    Multimodal.BandMasks.map(_.toString).mkString("[", ", ", "]")

  /** MM5 oracle: the full aHash replay — 64 window-hash pixels,
    * mean-threshold bits summed against the same power-of-two list
    * (bit 63 is the BIGINT minimum; list_sum runs in HUGEINT and the
    * exact cast back matches Spark's never-overflowing ascending
    * fold), 4 mask bands, bit_count(xor) Hamming verify.
    */
  val perceptualDedupSql: String = s"""WITH m AS (
    SELECT doc_id, text AS s FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 1000000, text || ' x' FROM documents WHERE doc_id % 10 = 0
  ),
  st AS (SELECT doc_id, s, greatest(length(s) // 64, 1) AS step FROM m),
  px AS (SELECT doc_id,
           list_transform(generate_series(0, 63),
             j -> ${polySql("substr(s, CAST(1 + j * step AS BIGINT), step)", 31, "256")}) AS pix
         FROM st),
  mn AS (SELECT doc_id, pix, list_sum(pix) // 64 AS mean_px FROM px),
  sg AS (SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(1, 64), j ->
             CASE WHEN pix[j] > mean_px THEN $mm5PowersList[j]
                  ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
         FROM mn),
  bd AS (SELECT doc_id, sig, u.m AS mask, sig & u.m AS key
         FROM sg, UNNEST($mm5MasksList) AS u(m)),
  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sig AS sig_a, b.sig AS sig_b
           FROM bd a JOIN bd b
           ON a.mask = b.mask AND a.key = b.key AND a.doc_id < b.doc_id)
  SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
  FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3"""

  def resizePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.withResize(
      Multimodal.extractFeatures(s, Multimodal.asMediaTable(
        docs(s, dir).filter(col("doc_id") < 300))), maxDim = 224)
      .select(col("doc_id"), col("modality"), col("width"), col("height"),
        col("resized_w"), col("resized_h"))

  // ---------------------------------------------------------------
  // Oracle SQL (DuckDB) — mirrors the integer-arithmetic operators
  // ---------------------------------------------------------------

  private val Pm = "1000000007"

  /** Char-level polynomial hash of a string expression, mod m. */
  private def polySql(sExpr: String, mult: Int, m: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length($sExpr)), i -> CAST(ord(substr($sExpr, i, 1)) AS BIGINT))), (a, b) -> (a * $mult + b) % $m)"

  /** Tokens CTE fragment: lowercase whitespace tokens. */
  private[graft] val toksSql = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
  private val rawToksSql = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"

  private val allStop = TextAnalysis.Stopwords.values.flatten.toSeq
    .map(w => s"'$w'").mkString("[", ", ", "]")
  private def stopList(l: String) = TextAnalysis.Stopwords(l)
    .map(w => s"'$w'").mkString("[", ", ", "]")

  private val normSql = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  /** Per-document feature CTE shared by the text oracles. */
  private val featSql: String = s"""WITH feat AS (
    SELECT doc_id, lang, source,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           CAST(len($rawToksSql) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n]', '', 'g')) AS BIGINT) AS punct_chars,
           CAST(len(list_filter($toksSql, t -> list_contains($allStop, t))) AS BIGINT) AS stop_hits,
           md5($normSql) AS fp_md5,
           ${polySql(normSql, 31, Pm)} AS fp_poly,
           CASE
             WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
             WHEN en_h > 0 AND en_h >= de_h AND en_h >= fr_h AND en_h >= es_h THEN 'en'
             WHEN de_h > 0 AND de_h >= fr_h AND de_h >= es_h THEN 'de'
             WHEN fr_h > 0 AND fr_h >= es_h THEN 'fr'
             WHEN es_h > 0 THEN 'es'
             ELSE 'und' END AS lang_pred
    FROM (
      SELECT *,
             len(list_filter($toksSql, t -> list_contains(${stopList("en")}, t))) AS en_h,
             len(list_filter($toksSql, t -> list_contains(${stopList("de")}, t))) AS de_h,
             len(list_filter($toksSql, t -> list_contains(${stopList("fr")}, t))) AS fr_h,
             len(list_filter($toksSql, t -> list_contains(${stopList("es")}, t))) AS es_h
      FROM documents)
  ), feat2 AS (
    SELECT *,
           (least(1000000, n_tokens * 20000)
            + CASE WHEN n_chars_m > 0 THEN (n_chars_m - punct_chars) * 1000000 // n_chars_m ELSE 0 END
            + CASE WHEN n_tokens > 0 THEN stop_hits * 1000000 // n_tokens ELSE 0 END) // 3 AS quality_e6
    FROM feat
  ) """

  val textStatsSql: String = featSql + """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_chars_m) AS BIGINT) AS sum_chars,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS sum_bpe,
           CAST(SUM(quality_e6) // COUNT(*) AS BIGINT) AS avg_quality_e6
    FROM feat2 GROUP BY lang, source"""

  /** T17 twin — same seven rules, same integer comparisons; the
    * `rep` feature re-derives the per-doc top-token count with the
    * unnest → two-level GROUP BY DuckDB shape.
    */
  val qualityFunnelSql: String = s"""
    WITH d AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
    f AS (SELECT doc_id, lang,
            CAST(len(toks) AS BIGINT) AS n_tok,
            CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonspace,
            CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_toks,
            CAST(len(list_filter(toks, t -> list_contains($allStop, t))) AS BIGINT) AS stop_hits,
            CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n]', '', 'g')) AS BIGINT) AS punct,
            CAST(length(text) AS BIGINT) AS n_chars_g
          FROM d),
    tt AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_tok_cnt FROM (
             SELECT doc_id, tok, COUNT(*) AS c FROM (
               SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY doc_id, tok)
           GROUP BY doc_id),
    g AS (SELECT lang,
            n_tok < 20 AS f_short, n_tok > 1000 AS f_long,
            (nonspace < n_tok * 2 OR nonspace > n_tok * 12) AS f_wordlen,
            alpha_toks * 10 < n_tok * 7 AS f_alpha,
            stop_hits < 2 AS f_stop,
            punct * 10 > n_chars_g AS f_symbol,
            COALESCE(top_tok_cnt, 0) * 5 > n_tok AS f_rep
          FROM f LEFT JOIN tt USING (doc_id))
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN f_long THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
           CAST(SUM(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_wordlen,
           CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
           CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           CAST(SUM(CASE WHEN f_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol,
           CAST(SUM(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
           CAST(SUM(CASE WHEN NOT (f_short OR f_long OR f_wordlen OR f_alpha
                                   OR f_stop OR f_symbol OR f_rep)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM g GROUP BY lang"""

  val langIdSql: String = featSql + """
    SELECT lang, lang_pred, COUNT(*) AS n FROM feat2 GROUP BY lang, lang_pred"""

  val fingerprintSql: String = featSql + """
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT fp_md5) AS n_unique_md5,
           COUNT(DISTINCT fp_poly) AS n_unique_poly
    FROM feat2 GROUP BY source"""

  val docFeaturesSql: String = featSql + """
    SELECT doc_id, n_tokens, n_bpe_tokens, punct_chars, quality_e6,
           lang_pred, fp_md5, fp_poly
    FROM feat2 WHERE doc_id < 200"""

  val exactDedupSql: String = featSql + """
    SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT fp_md5) AS n_unique,
           COUNT(*) - COUNT(DISTINCT fp_md5) AS n_dups
    FROM feat2 GROUP BY lang"""

  val domainCapSql: String = featSql + """
    SELECT source, doc_id, quality_e6, rank_in_domain FROM (
      SELECT source, doc_id, quality_e6,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality_e6 DESC, doc_id) AS rank_in_domain
      FROM feat2)
    WHERE rank_in_domain <= 40"""

  val trainShardsSql: String = s"""WITH fp AS (
    SELECT doc_id, ${polySql(normSql, 31, Pm)} AS fp_poly FROM documents
  )
  SELECT doc_id, fp_poly, fp_poly % 8 AS shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY fp_poly % 8
                                 ORDER BY fp_poly, doc_id) - 1 AS BIGINT) AS pos
  FROM fp"""

  /** Shingle CTE: token hashes then word n-gram polynomial shingles.
    * `filter` bounds the doc set; recurrence matches
    * Dedup.shingleHashes exactly.
    */
  private def shingleSql(n: Int, filter: String, name: String = "sh",
                         src: String = "documents"): String = {
    val comb = (1 to n).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
      s"(($acc * 131 + th[i + ${j - 1}]) % $Pm)")
    s"""$name AS (
    SELECT doc_id, CASE WHEN len(th) >= $n THEN
             list_distinct(list_transform(generate_series(1, len(th) - ${n - 1}), i -> $comb))
           ELSE [] END AS sh
    FROM (
      SELECT doc_id, list_transform($toksSql, t -> ${polySql("t", 31, Pm)}) AS th
      FROM $src WHERE $filter)
  )"""
  }

  val jaccardPairsSql: String = s"""WITH ${shingleSql(2, "doc_id % 10 = 0")}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) * 1000000
                // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS BIGINT) AS jaccard_e6
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) > 0
      AND len(list_intersect(a.sh, b.sh)) * 1000000
          // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 50000"""

  /** MinHash signature CTE over `sh`: 16 permutations
    * sig_i = min((x*(2i+1) + 104729*i mod P) mod P), sentinel P when
    * no shingles. Matches Dedup.minhashParams/minhashSignature.
    */
  /** Excludes docs with no shingles (mirrors Dedup.minhashCandidates
    * and minhashSignatures — they cannot be near-dups and would all
    * collide on the sentinel signature).
    */
  private val sigSql: String = """sigs AS (
    SELECT doc_id,
           list_transform(generate_series(1, 16), p ->
             CASE WHEN len(sh) > 0 THEN
               list_min(list_transform(sh, x ->
                 (x * ((2654435761 * p + 1) % 1000000007)
                  + (40503 * p * p + 17) % 1000000007) % 1000000007))
             ELSE 1000000007 END) AS sig
    FROM sh WHERE len(sh) > 0
  )"""

  val minhashSigSql: String = s"""WITH ${shingleSql(3, "doc_id < 100")}, $sigSql
    SELECT doc_id, CAST(perm AS BIGINT) AS perm, sig[perm] AS sig_value
    FROM sigs, UNNEST(generate_series(1, 16)) AS t(perm)"""

  /** D19 oracle: pairs over the d2 slice (2-gram shingles, so the
    * exact side matches d2's grain), estimate = matching signature
    * positions × 1e6 // 16, exact via list_intersect; integer error
    * stats per exact decile.
    */
  val jaccardEstSql: String = s"""WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0 AND doc_id < 2000
    UNION ALL
    SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) // 2, 1))
    FROM documents WHERE doc_id % 10 = 0 AND doc_id < 2000
    UNION ALL
    SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0 AND doc_id < 2000
  ), ${shingleSql(2, "TRUE", "sh", "corpus")}, $sigSql,
  pr AS (
    SELECT len(list_intersect(ha.sh, hb.sh)) AS inter,
           len(ha.sh) + len(hb.sh) AS szsum,
           len(list_filter(generate_series(1, 16), i -> sa.sig[i] = sb.sig[i]))
             * 1000000 // 16 AS est_e6
    FROM sigs sa
    JOIN sh ha ON ha.doc_id = sa.doc_id
    JOIN sigs sb ON sb.doc_id > sa.doc_id
    JOIN sh hb ON hb.doc_id = sb.doc_id
  ),
  px AS (
    SELECT est_e6,
           CASE WHEN szsum - inter = 0 THEN 0
                ELSE inter * 1000000 // (szsum - inter) END AS exact_e6
    FROM pr
  )
  SELECT CAST(exact_e6 // 100000 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(ABS(est_e6 - exact_e6)) AS BIGINT) AS sum_abs_err_e6,
         CAST(SUM(ABS(est_e6 - exact_e6)) // COUNT(*) AS BIGINT) AS mean_abs_err_e6,
         CAST(MAX(ABS(est_e6 - exact_e6)) AS BIGINT) AS max_abs_err_e6
  FROM px GROUP BY 1"""

  val minhashCandSql: String = s"""WITH ${shingleSql(3, "doc_id % 10 = 0")}, $sigSql,
  banded AS (
    SELECT doc_id, b,
           list_reduce(list_prepend(CAST(b AS BIGINT), sig[b*2 + 1 : b*2 + 2]),
                       (a, x) -> (a * 131 + x) % 1000000007) AS key
    FROM sigs, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
  )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a, banded b
    WHERE a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id"""

  /** D14 oracle: same derived base+truncated-copy corpus, same LSH
    * candidate stage as d4/d7, exact containment in e6 integers.
    */
  val containmentSql: String = s"""WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) // 2, 1))
    FROM documents WHERE doc_id % 7 = 0
  ), ${shingleSql(3, "TRUE", "sh", "corpus")}, $sigSql,
  banded AS (
    SELECT doc_id, b,
           list_reduce(list_prepend(CAST(b AS BIGINT), sig[b*2 + 1 : b*2 + 2]),
                       (a, x) -> (a * 131 + x) % 1000000007) AS key
    FROM sigs, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
  ), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a, banded b
    WHERE a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
  )
  SELECT doc_a, doc_b, n_common, n_a, n_b,
         CAST(n_common * 1000000 // n_a AS BIGINT) AS contain_ab_e6,
         CAST(n_common * 1000000 // n_b AS BIGINT) AS contain_ba_e6
  FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common,
           CAST(len(sa.sh) AS BIGINT) AS n_a,
           CAST(len(sb.sh) AS BIGINT) AS n_b
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b)
  WHERE n_a > 0 AND n_b > 0
    AND greatest(n_common * 1000000 // n_a, n_common * 1000000 // n_b) >= 500000"""

  /** D21 oracle: the planted-copy corpus, the shared shingle/signature
    * CTEs, exact-Jaccard truth at τ = 1/2 (both-nonempty guard — the
    * Spark side's when(uni = 0, 0) makes such pairs sub-threshold
    * anyway), then per config the d4 band-key fold parameterized by
    * (bands, rows): candidates, hits against truth, exact integer
    * recall/precision. S-curve values are shared literals computed
    * once in Scala (Dedup.sCurveHalfE6) — no cross-engine pow.
    */
  val lshTuningSql: String = {
    val configs = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
    val corpus = """corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0 AND doc_id < 20000
    UNION ALL
    SELECT doc_id + 1000000, substring(text, 1, greatest(length(text) * 9 // 10, 1))
    FROM documents WHERE doc_id % 20 = 0 AND doc_id < 20000
    UNION ALL
    SELECT doc_id + 2000000, substring(text, 1, greatest(length(text) * 3 // 4, 1))
    FROM documents WHERE doc_id % 20 = 0 AND doc_id < 20000
    UNION ALL
    SELECT doc_id + 3000000, substring(text, 1, greatest(length(text) // 2, 1))
    FROM documents WHERE doc_id % 20 = 0 AND doc_id < 20000
  )"""
    val cfgCtes = configs.map { case (b, r) =>
      s"""banded_$b AS (
    SELECT doc_id, b,
           list_reduce(list_prepend(CAST(b AS BIGINT), sig[b*$r + 1 : b*$r + $r]),
                       (a, x) -> (a * 131 + x) % 1000000007) AS key
    FROM sigs, UNNEST([${(0 until b).mkString(", ")}]) AS t(b)
  ), cand_$b AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded_$b a, banded_$b b
    WHERE a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
  ), m_$b AS (
    SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
           CAST(${Dedup.sCurveHalfE6(b, r)} AS BIGINT) AS s_curve_e6,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(t.doc_a) AS BIGINT) AS true_pos
    FROM cand_$b c LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  )"""
    }.mkString(", ")
    val unioned = configs.map { case (b, _) => s"SELECT * FROM m_$b" }
      .mkString(" UNION ALL ")
    s"""WITH $corpus, ${shingleSql(3, "TRUE", "sh", "corpus")}, $sigSql,
  truth AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
      AND len(list_intersect(a.sh, b.sh)) * 1000000
          // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 500000
  ), tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
  $cfgCtes
  SELECT bands, rows_per_band, s_curve_e6, tn.n_truth, n_candidates, true_pos,
         CAST(CASE WHEN tn.n_truth = 0 THEN NULL
                   ELSE true_pos * 1000000 // tn.n_truth END AS BIGINT) AS recall_e6,
         CAST(CASE WHEN n_candidates = 0 THEN NULL
                   ELSE true_pos * 1000000 // n_candidates END AS BIGINT) AS precision_e6
  FROM ($unioned), tn"""
  }

  /** D22 oracle: the same mosaic derivation (raw-token slicing — both
    * engines split on \s+ and join with single spaces, so the
    * constructed TEXT strings are byte-identical), then the winnowing
    * pipeline as list ops: token hashes → ordered 4-gram fold → window
    * minima (list slices are 1-based inclusive on both sides) →
    * distinct fingerprints → fingerprint equi-join pair counts.
    */
  val winnowingSql: String = {
    val k = 4; val w = 5
    val gram = (1 to k).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
      s"(($acc * 131 + th[i + ${j - 1}]) % $Pm)")
    s"""WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 1000000,
           array_to_string(toks[len(toks)//2 + 1 : len(toks)], ' ')
             || ' zz' || CAST(doc_id % 89 AS VARCHAR) AS text
    FROM (SELECT doc_id, $rawToksSql AS toks FROM documents WHERE doc_id % 10 = 0)
  ), th AS (
    SELECT doc_id, list_transform($toksSql, t -> ${polySql("t", 31, Pm)}) AS th
    FROM corpus
  ), sq AS (
    SELECT doc_id,
           list_transform(generate_series(1, len(th) - ${k - 1}), i -> $gram) AS seq
    FROM th WHERE len(th) >= ${k + w - 1}
  ), fps AS (
    SELECT doc_id,
           list_distinct(list_transform(generate_series(1, len(seq) - ${w - 1}),
                                        j -> list_min(seq[j : j + ${w - 1}]))) AS f
    FROM sq
  ), e AS (SELECT doc_id, unnest(f) AS fp FROM fps)
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_fps
  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2"""
  }

  /** D16 oracle: same derived corpus/batch split as the operator
    * (planted exact and 3/4-prefix near copies), the d4 LSH stages on
    * each side separately, cross-side candidates only, exact Jaccard
    * verify, and the exact/near/new verdict cascade.
    */
  /** D23 oracle: same planted-fragment corpus, rare-shingle posting
    * probe (df in [2, 64], rarest 5 per doc by (df, shingle)), exact
    * containment verify — mirrors Dedup.containmentPairs term for
    * term.
    */
  lazy val rareContainmentSql: String = s"""WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(list_slice(t, 1, GREATEST(5, (len(t) * 2) // 5)), ' ') AS text
      FROM (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % 50 = 0)
    ), ${shingleSql(3, "TRUE", src = "corpus")}
    , shne AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0
    ), posting AS (
      SELECT doc_id, UNNEST(sh) AS s FROM shne
    ), dftab AS (
      SELECT s, COUNT(*) AS df FROM posting GROUP BY s
      HAVING COUNT(*) BETWEEN 2 AND 64
    ), rare AS (
      SELECT doc_id AS a, s FROM (
        SELECT p.doc_id, p.s, d.df,
               row_number() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.s) AS rk
        FROM posting p JOIN dftab d USING (s))
      WHERE rk <= 5
    ), cand AS (
      SELECT DISTINCT r.a, p.doc_id AS b
      FROM rare r JOIN posting p USING (s) WHERE r.a <> p.doc_id
    ), v AS (
      SELECT c.a, c.b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
             CAST(len(sa.sh) AS BIGINT) AS na, CAST(len(sb.sh) AS BIGINT) AS nb
      FROM cand c
      JOIN shne sa ON sa.doc_id = c.a
      JOIN shne sb ON sb.doc_id = c.b
    )
    SELECT a AS doc_a, b AS doc_b,
           CAST(inter * 1000000 // na AS BIGINT) AS cont_e6,
           CAST(inter * 1000000 // (na + nb - inter) AS BIGINT) AS jaccard_e6
    FROM v WHERE inter * 1000000 // na >= 800000"""

  /** D24 oracle: same planted strengths, same probe, exact all-pairs
    * truth on the bounded slice — mirrors containmentRecallQ term for
    * term (the shared `sh` CTE is the production shingle mirror).
    */
  lazy val containmentRecallSql: String = s"""WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 2000
    ), toksb AS (
      SELECT doc_id, $toksSql AS t FROM base
    ), pl AS (
      SELECT doc_id, list_slice(t, 1, GREATEST(5, (len(t) * 2) // 5)) AS pfx
      FROM toksb WHERE doc_id % 20 = 0
    ), planted AS (
      SELECT doc_id + 4000000 AS doc_id, array_to_string(pfx, ' ') AS text,
             'a_full' AS strength FROM pl
      UNION ALL
      SELECT doc_id + 5000000, array_to_string(pfx || list_transform(
               range(1, GREATEST(2, len(pfx) // 2) + 1),
               j -> 'zz' || (doc_id + 5000000) || 'x' || j), ' '),
             'b_two_thirds' FROM pl
      UNION ALL
      SELECT doc_id + 6000000, array_to_string(pfx || list_transform(
               range(1, len(pfx) + 1),
               j -> 'zz' || (doc_id + 6000000) || 'x' || j), ' '),
             'c_half' FROM pl
      UNION ALL
      SELECT doc_id + 7000000, array_to_string(pfx || list_transform(
               range(1, GREATEST(2, len(pfx) // 2) + 1),
               j -> 'zz' || doc_id || 'x' || j), ' '),
             'd_shared_noise' FROM pl
      UNION ALL
      SELECT doc_id + 8000000, array_to_string(pfx || list_transform(
               range(1, GREATEST(2, len(pfx) // 2) + 1),
               j -> 'zz' || doc_id || 'x' || j), ' '),
             'd_shared_noise' FROM pl
    ), corpus AS (
      SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM planted
    ), ${shingleSql(3, "TRUE", src = "corpus")}
    , shne AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0
    ), truth AS (
      SELECT p.strength, a.doc_id AS pa, b.doc_id AS pb,
             len(list_intersect(a.sh, b.sh)) * 1000000 // len(a.sh) AS cont_e6
      FROM shne a JOIN planted p ON p.doc_id = a.doc_id,
           shne b JOIN base bb ON bb.doc_id = b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1000000 // len(a.sh) >= 400000
    ), posting AS (
      SELECT doc_id, UNNEST(sh) AS s FROM shne
    ), dfs AS (
      SELECT UNNEST([2, 16, 64, 256]) AS max_df
    ), dftab AS (
      SELECT s, COUNT(*) AS df FROM posting GROUP BY s
      HAVING COUNT(*) >= 2
    ), rare AS (
      SELECT max_df, doc_id AS a, s FROM (
        SELECT p.doc_id, p.s, d.df, f.max_df,
               row_number() OVER (PARTITION BY p.doc_id, f.max_df
                                  ORDER BY d.df, p.s) AS rk
        FROM posting p JOIN dftab d USING (s) CROSS JOIN dfs f
        WHERE d.df <= f.max_df)
      WHERE rk <= 5
    ), cand AS (
      SELECT DISTINCT r.max_df, r.a, p.doc_id AS b
      FROM rare r JOIN posting p USING (s) WHERE r.a <> p.doc_id
    )
    SELECT t.strength, CAST(f.max_df AS BIGINT) AS max_df,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           CAST(MIN(t.cont_e6) AS BIGINT) AS min_cont_e6,
           CAST(SUM(CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS recall_e6
    FROM truth t CROSS JOIN dfs f
    LEFT JOIN cand c ON c.max_df = f.max_df AND c.a = t.pa AND c.b = t.pb
    GROUP BY t.strength, f.max_df"""

  /** Cross-frame near-dup verdict machinery shared by d16 and x43:
    * `corpusCte`/`batchCte` supply the two frames; the rest is the
    * banded batch-vs-corpus candidate join, exact-Jaccard verify at
    * tau = 1/2, and the exact-fingerprint stage.
    */
  private def incrementalVerdictSql(corpusCte: String, batchCte: String): String =
    s"""WITH corpus AS (
    $corpusCte
  ), batch AS (
    $batchCte
  ), ${shingleSql(3, "TRUE", "shc", "corpus")}, ${shingleSql(3, "TRUE", "shb", "batch")},
  sigc AS (
    SELECT doc_id,
           list_transform(generate_series(1, 16), p ->
             CASE WHEN len(sh) > 0 THEN
               list_min(list_transform(sh, x ->
                 (x * ((2654435761 * p + 1) % 1000000007)
                  + (40503 * p * p + 17) % 1000000007) % 1000000007))
             ELSE 1000000007 END) AS sig
    FROM shc WHERE len(sh) > 0
  ), sigb AS (
    SELECT doc_id,
           list_transform(generate_series(1, 16), p ->
             CASE WHEN len(sh) > 0 THEN
               list_min(list_transform(sh, x ->
                 (x * ((2654435761 * p + 1) % 1000000007)
                  + (40503 * p * p + 17) % 1000000007) % 1000000007))
             ELSE 1000000007 END) AS sig
    FROM shb WHERE len(sh) > 0
  ), bandc AS (
    SELECT doc_id, b,
           list_reduce(list_prepend(CAST(b AS BIGINT), sig[b*2 + 1 : b*2 + 2]),
                       (a, x) -> (a * 131 + x) % 1000000007) AS key
    FROM sigc, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
  ), bandb AS (
    SELECT doc_id, b,
           list_reduce(list_prepend(CAST(b AS BIGINT), sig[b*2 + 1 : b*2 + 2]),
                       (a, x) -> (a * 131 + x) % 1000000007) AS key
    FROM sigb, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
  ), cand AS (
    SELECT DISTINCT a.doc_id AS batch_id, c.doc_id AS corpus_id
    FROM bandb a, bandc c WHERE a.b = c.b AND a.key = c.key
  ), near AS (
    SELECT batch_id, MIN(corpus_id) AS near_dup_of,
           CAST(MAX(j_e6) AS BIGINT) AS near_j_e6
    FROM (
      SELECT c.batch_id, c.corpus_id,
             len(list_intersect(sa.sh, sb.sh)) * 1000000
               // (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j_e6
      FROM cand c
      JOIN shb sa ON sa.doc_id = c.batch_id
      JOIN shc sb ON sb.doc_id = c.corpus_id
      WHERE (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) > 0)
    WHERE j_e6 >= 500000
    GROUP BY batch_id
  ), cfp AS (
    SELECT $normSql AS norm, md5($normSql) AS fp, MIN(doc_id) AS exact_dup_of
    FROM corpus GROUP BY 1, 2
  ), cfp2 AS (
    SELECT fp, MIN(exact_dup_of) AS exact_dup_of FROM cfp GROUP BY fp
  ), bfp AS (
    SELECT doc_id, md5($normSql) AS fp FROM batch
  )
  SELECT b.doc_id,
         CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
              WHEN n.near_dup_of IS NOT NULL THEN 'near_dup'
              ELSE 'new' END AS verdict,
         e.exact_dup_of, n.near_dup_of, n.near_j_e6
  FROM bfp b
  LEFT JOIN cfp2 e USING (fp)
  LEFT JOIN near n ON n.batch_id = b.doc_id"""

  val incrementalDedupSql: String = incrementalVerdictSql(
    """SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0""",
    """SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 8 = 0
    UNION ALL
    SELECT doc_id + 2000000, substring(text, 1, greatest(3 * length(text) // 4, 1))
    FROM documents WHERE doc_id % 8 = 4""")

  /** X43 oracle: the shared verdict machinery with test as the
    * protected corpus and train as the probe, wrapped with the keep
    * bit (kept = no exact or near dup in the eval set).
    */
  val splitDecontamSql: String = s"""
    SELECT doc_id, verdict, exact_dup_of, near_dup_of, near_j_e6,
           verdict = 'new' AS kept
    FROM (${incrementalVerdictSql(
      """SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5
    UNION ALL
    SELECT doc_id + 1000000, substring(text, 1, greatest(3 * length(text) // 4, 1))
    FROM documents WHERE doc_id % 20 = 0""",
      """SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0""")})"""

  val nearDedupSql: String = s"""WITH ${shingleSql(3, "doc_id % 10 = 0")}, $sigSql,
  banded AS (
    SELECT doc_id, b,
           list_reduce(list_prepend(CAST(b AS BIGINT), sig[b*2 + 1 : b*2 + 2]),
                       (a, x) -> (a * 131 + x) % 1000000007) AS key
    FROM sigs, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
  ), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a, banded b
    WHERE a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
  ), dropped AS (
    SELECT DISTINCT c.doc_b
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) > 0
      AND len(list_intersect(sa.sh, sb.sh)) * 1000000
          >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 100000
  )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_b FROM dropped)"""

  /** D9 oracle: the same derived duplicate-triple corpus and the same
    * MinHash+LSH candidate/verify stages as nearDedupSql, but resolved
    * into components by recursive min-label propagation (a transitive
    * closure the tiny cluster sizes keep cheap) — ground truth for the
    * distributed star-contraction CC.
    */
  private val docs9Sql: String = """docs9 AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 1000000,
           text || ' q' || CAST(doc_id % 89 AS VARCHAR)
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000,
           text || ' q' || CAST(doc_id % 89 AS VARCHAR) || ' r' || CAST(doc_id % 83 AS VARCHAR)
    FROM documents WHERE doc_id % 10 = 0
  )"""

  private val dupGraphCtes: String = s"""WITH RECURSIVE $docs9Sql, ${shingleSql(3, "1=1", src = "docs9")}, $sigSql,
  banded AS (
    SELECT doc_id, b,
           list_reduce(list_prepend(CAST(b AS BIGINT), sig[b*2 + 1 : b*2 + 2]),
                       (a, x) -> (a * 131 + x) % 1000000007) AS key
    FROM sigs, UNNEST([0, 1, 2, 3, 4, 5, 6, 7]) AS t(b)
  ), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a, banded b
    WHERE a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
  ), verified AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) > 0
      AND len(list_intersect(sa.sh, sb.sh)) * 1000000
          >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 500000
  ), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM verified
    UNION
    SELECT doc_b, doc_a FROM verified
  ), reach AS (
    SELECT DISTINCT src AS id, src AS lbl FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
  ), comp AS (
    SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
  )"""

  /** D12 oracle: same derived corpus, same raw-token windows, same
    * md5-of-joined-slice window identity (DuckDB's 1-based inclusive
    * list slice `toks[s+1 : s+8]` = Spark's `slice(toks, s+1, 8)`),
    * aggregated the relational way.
    */
  val substringDupSql: String = s"""WITH $docs9Sql,
  tk AS (
    SELECT doc_id, $rawToksSql AS toks FROM docs9
  ), wn AS (
    SELECT doc_id, toks,
           CAST(CASE WHEN len(toks) >= 8 THEN len(toks) - 7 ELSE 0 END AS BIGINT) AS n_windows
    FROM tk
  ), w AS (
    SELECT DISTINCT doc_id, md5(array_to_string(toks[s + 1 : s + 8], ' ')) AS wh
    FROM (SELECT doc_id, toks,
                 unnest(CASE WHEN len(toks) >= 8
                        THEN generate_series(0, len(toks) - 8) ELSE [] END) AS s
          FROM wn)
  ), g AS (
    SELECT wh, COUNT(*) AS ndocs FROM w GROUP BY wh
  ), pd AS (
    SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS nd,
           CAST(SUM(CASE WHEN g.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS ns
    FROM w JOIN g USING (wh) GROUP BY w.doc_id
  )
  SELECT wn.doc_id, wn.n_windows,
         CAST(coalesce(pd.nd, 0) AS BIGINT) AS n_distinct_windows,
         CAST(coalesce(pd.ns, 0) AS BIGINT) AS n_shared_windows,
         CASE WHEN coalesce(pd.nd, 0) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(pd.ns * 1000000 // pd.nd AS BIGINT) END AS shared_frac_e6
  FROM wn LEFT JOIN pd USING (doc_id)"""

  /** D20 oracle: d12's raw-token md5 window positions (NOT distinct —
    * every occurrence keeps its start index), cross-doc frequency on
    * the distinct per-doc set, then gaps-and-islands over consecutive
    * shared positions per document.
    */
  val dupSpansSql: String = s"""WITH $docs9Sql,
  tk AS (
    SELECT doc_id, $rawToksSql AS toks FROM docs9
  ), pos AS (
    SELECT doc_id, s, md5(array_to_string(toks[s + 1 : s + 8], ' ')) AS wh
    FROM (SELECT doc_id, toks,
                 unnest(CASE WHEN len(toks) >= 8
                        THEN generate_series(0, len(toks) - 8) ELSE [] END) AS s
          FROM tk)
  ), g AS (
    SELECT wh, COUNT(DISTINCT doc_id) AS ndocs FROM pos GROUP BY wh
  ), shared AS (
    SELECT p.doc_id, p.s FROM pos p JOIN g USING (wh) WHERE g.ndocs > 1
  ), isl AS (
    SELECT doc_id, s,
           s - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS grp
    FROM shared
  )
  SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
         CAST(COUNT(*) AS BIGINT) AS span_windows,
         CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
  FROM isl GROUP BY doc_id, grp"""

  /** D13 oracle: same planted canary, same raw-token md5 windows,
    * bench and corpus window sets kept DISTINCT per side before the
    * overlap join — mirrors the operator's distinct-then-join shape.
    */
  val windowDecontamSql: String = s"""WITH p13 AS (
    SELECT doc_id, text
      || CASE WHEN doc_id % 97 = 0 OR doc_id % 7 = 3 THEN '$CanaryPhrase' ELSE '' END AS text
    FROM documents
  ), tk13 AS (
    SELECT doc_id, doc_id % 97 = 0 AS is_bench, $rawToksSql AS toks FROM p13
  ), wn13 AS (
    SELECT doc_id, is_bench, toks,
           CAST(CASE WHEN len(toks) >= 8 THEN len(toks) - 7 ELSE 0 END AS BIGINT) AS n_windows
    FROM tk13
  ), w13 AS (
    SELECT DISTINCT doc_id, is_bench, md5(array_to_string(toks[s + 1 : s + 8], ' ')) AS wh
    FROM (SELECT doc_id, is_bench, toks,
                 unnest(CASE WHEN len(toks) >= 8
                        THEN generate_series(0, len(toks) - 8) ELSE [] END) AS s
          FROM wn13)
  ), wb13 AS (
    SELECT DISTINCT wh FROM w13 WHERE is_bench
  )
  SELECT w.doc_id, MIN(n.n_windows) AS n_windows,
         CAST(COUNT(*) AS BIGINT) AS n_contaminated_windows,
         CAST(COUNT(*) * 1000000 // MIN(n.n_windows) AS BIGINT) AS contam_frac_e6
  FROM w13 w JOIN wb13 USING (wh) JOIN wn13 n ON n.doc_id = w.doc_id
  WHERE NOT w.is_bench
  GROUP BY w.doc_id"""

  val dupClustersSql: String = s"""$dupGraphCtes
    SELECT c.id AS doc_id, c.cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size
    FROM comp c"""

  /** D15 oracle: the d9 closure joined to exact token counts, kept =
    * rank-1 by (n_tokens desc, id) within the cluster.
    */
  val qualityDedupSql: String = s"""$dupGraphCtes
    SELECT c.id AS doc_id, c.cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size,
           q.n_tokens,
           (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                               ORDER BY q.n_tokens DESC, c.id) = 1) AS kept
    FROM comp c
    JOIN (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM docs9) q
      ON q.doc_id = c.id"""

  /** D11 oracle: the closure's complement — every derived doc that is
    * not a non-minimal member of some component.
    */
  val nearDedupCCSql: String = s"""$dupGraphCtes
    SELECT doc_id FROM docs9
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)"""

  val simhashSql: String = s"""WITH th AS (
    SELECT doc_id,
           list_transform($toksSql, t -> ${polySql("t", 131, "4294967296")}) AS th
    FROM documents WHERE doc_id < 200
  )
    SELECT doc_id,
           CAST(coalesce(list_sum(list_transform(generate_series(0, 31), i ->
             CASE WHEN coalesce(list_sum(list_transform(th, h -> ((h >> i) & 1) * 2 - 1)), 0) >= 0
                  THEN 1 << i ELSE 0 END)), 0) AS BIGINT) AS simhash32
    FROM th"""

  /** Deterministic left-fold cosine between two embedding columns. */
  private def cosSql(a: String, b: String): String = {
    def fold(l: String) = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (x, y) -> x + y)"
    val dot = fold(s"list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
    val na = fold(s"list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))")
    val nb = fold(s"list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))")
    s"CASE WHEN sqrt($na) * sqrt($nb) = 0 THEN 0.0 ELSE $dot / (sqrt($na) * sqrt($nb)) END"
  }

  /** All-pairs oracle over the SAME derived orig+perturbed-copy set as
    * the Spark LSH query — a hash match proves the LSH prefilter lost
    * no near-dup pair.
    */
  val embeddingDupsSql: String = s"""
    WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM base
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(generate_series(1, len(embedding)), i ->
               CAST(embedding[i] AS DOUBLE) *
                 (1 + CAST(((vec_id + i - 1) % 7) - 3 AS DOUBLE) / 100.0))
      FROM base)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(${cosSql("a.embedding", "b.embedding")}, 6) AS cos_sim
    FROM v a, v b
    WHERE a.vec_id < b.vec_id
      AND ROUND(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.9"""

  val semanticDecontamSql: String = s"""
    WITH c AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings),
    e AS (
      SELECT vec_id + 2000000 AS eid,
             list_transform(generate_series(1, len(embedding)), i ->
               CAST(embedding[i] AS DOUBLE) *
                 (1 + CAST(((vec_id + i - 1) % 7) - 3 AS DOUBLE) / 100.0)) AS ev
      FROM embeddings WHERE vec_id % 17 = 0
      UNION ALL
      SELECT vec_id + 3000000 AS eid,
             list_transform(generate_series(1, len(embedding)), i ->
               CAST(embedding[len(embedding) - i + 1] AS DOUBLE)) AS ev
      FROM embeddings WHERE vec_id % 17 = 5),
    p AS (
      SELECT cid, eid, ROUND(${cosSql("cv", "ev")}, 6) AS cos_sim
      FROM c, e)
    SELECT cid AS corpus_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           MIN(eid) AS min_eval_id, MAX(cos_sim) AS max_cos
    FROM p WHERE cos_sim >= 0.9
    GROUP BY cid"""

  /** S10 oracle: the same sign-bit packing (powers list shared with
    * mm5 — bit 63 is the BIGINT minimum, list_sum runs in HUGEINT),
    * bit_count(xor) Hamming shortlist at (hamming, neighbor_id) order,
    * exact-cosine rerank of the kept 20.
    */
  val knnBqSql: String = s"""
    WITH qc AS (
      SELECT vec_id AS query_id, embedding AS qv,
             CAST(list_sum(list_transform(generate_series(1, 64), j ->
               CASE WHEN embedding[j] > 0 THEN $mm5PowersList[j]
                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS qc
      FROM embeddings WHERE vec_id < 5),
    cc AS (
      SELECT vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, 64), j ->
               CASE WHEN embedding[j] > 0 THEN $mm5PowersList[j]
                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS cc
      FROM embeddings),
    sl AS (
      SELECT query_id, neighbor_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY hamming, neighbor_id) AS hrank
      FROM (SELECT q.query_id, c.neighbor_id,
                   CAST(bit_count(xor(q.qc, c.cc)) AS INT) AS hamming
            FROM cc c, qc q WHERE c.neighbor_id != q.query_id)),
    r AS (
      SELECT s.query_id, s.neighbor_id, s.hamming,
             ROUND(${cosSql("q.qv", "e.embedding")}, 6) AS cos
      FROM sl s
      JOIN embeddings e ON e.vec_id = s.neighbor_id
      JOIN qc q ON q.query_id = s.query_id
      WHERE s.hrank <= 20)
    SELECT query_id, neighbor_id, hamming, cos, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rank
          FROM r)
    WHERE rank <= 5"""

  val knnBruteSql: String = s"""
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(${cosSql("q.embedding", "c.embedding")}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND(${cosSql("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 5 AND q.vec_id != c.vec_id)
    WHERE rank <= 5"""

  val filteredKnnSql: String = s"""
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(${cosSql("q.embedding", "c.embedding")}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND(${cosSql("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS rank
      FROM embeddings q,
           (SELECT e.* FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
            WHERE d.lang = 'en') c
      WHERE q.vec_id < 3 AND q.vec_id != c.vec_id)
    WHERE rank <= 5"""

  /** Strict left-fold sum, the SQL twin of Similarity.foldSum —
    * accumulation order fixed by the list, so doubles agree bitwise.
    */
  private def foldSql(l: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (x, y) -> x + y)"

  /** S2 oracle: the full sign-LSH pipeline replayed in SQL. The
    * plane-weight hash (LshWeights.component) is pure 32-bit integer
    * mixing — reproduced with HUGEINT intermediates for the two
    * wrap-around multiplies ((a·b) mod 2³² needs only a mod 2³², so
    * masking before the multiply matches Scala's 64-bit wrap) — and
    * the weight itself is h/2³¹ − 1: a dyadic rational, exact in
    * both engines. Projections replay the operator's strict left
    * fold, so even a projection landing within 1 ulp of zero gets
    * the same sign bit; the candidate set, scores and ranks are then
    * deterministic, making the "approximate" operator hash-checkable
    * (approximate refers to recall vs brute force, not to any
    * nondeterminism).
    */
  val knnLshSql: String = s"""
    WITH wraw AS (
      SELECT t, p, d, (t * 64 + p) * 2654435761 + d * 40503 + 12345 AS h0
      FROM generate_series(0, 7) tt(t), generate_series(0, 5) pp(p),
           generate_series(0, 63) dd(d)
    ), w2 AS (
      SELECT t, p, d,
             CAST((CAST(xor(h0, h0 >> 16) AS HUGEINT) % 4294967296 * 2246822507)
                  % 4294967296 AS BIGINT) AS h2
      FROM wraw
    ), w4 AS (
      SELECT t, p, d,
             CAST((CAST(xor(h2, h2 >> 13) AS HUGEINT) * 3266489909)
                  % 4294967296 AS BIGINT) AS h3
      FROM w2
    ), wv AS (
      SELECT t, p, list(CAST(xor(h3, h3 >> 16) AS DOUBLE) / 2147483648.0 - 1.0
                        ORDER BY d) AS w
      FROM w4 GROUP BY t, p
    ), vk AS (
      SELECT e.vec_id, w.t,
             SUM(CASE WHEN ${foldSql("list_transform(generate_series(1, least(len(e.embedding), 64)), i -> CAST(e.embedding[i] AS DOUBLE) * w.w[i])")} >= 0
                 THEN 1 << w.p ELSE 0 END) AS bkt
      FROM embeddings e, wv w
      GROUP BY e.vec_id, w.t
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM vk q JOIN vk c ON q.t = c.t AND q.bkt = c.bkt
      WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(${cosSql("qe.embedding", "ce.embedding")}, 6) AS cos_sim
      FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
                JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5"""

  /** S3 oracle: IVF replayed in SQL — same deterministic centroid
    * pick (16 smallest (id-hash, id) candidates, indexed in id
    * order), same (rounded-cosine desc, index asc) cell assignment
    * (top-1 per candidate, top-4 probe cells per query), same final
    * scoring and ranking. Joining on centroid_id equals joining on
    * the cell index because centroid ids are distinct by
    * construction.
    */
  val knnIvfSql: String = s"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS cv,
             ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
      FROM (SELECT * FROM embeddings
            ORDER BY (((vec_id % 1000000007) * 2654435761) % 1000000007 * 40503)
                     % 1000000007 % 10000, vec_id
            LIMIT 16)
    ), assign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND(${cosSql("e.embedding", "c.cv")}, 6) DESC, c.ci) AS r
      FROM embeddings e, cents c
    ), ca AS (
      SELECT vec_id AS neighbor_id, embedding AS nv, centroid_id
      FROM assign WHERE r = 1
    ), qa AS (
      SELECT vec_id AS query_id, embedding AS qv, centroid_id
      FROM assign WHERE vec_id < 5 AND r <= 4
    ), scored AS (
      SELECT qa.query_id, ca.neighbor_id,
             ROUND(${cosSql("qa.qv", "ca.nv")}, 6) AS cos_sim
      FROM ca JOIN qa ON ca.centroid_id = qa.centroid_id
      WHERE qa.query_id != ca.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5"""

  /** The t11 classifier's per-gram milli-weight in SQL — the single
    * mirror of TextAnalysis.ngramScoreMilli's constants (bucket count,
    * Knuth multiplier, weight range); every classifier-based oracle
    * (t11, c2, x36) composes this one string.
    */
  private val ngramWeightSql: String =
    s"((((${polySql("t", 31, Pm)} % 4096) * 2654435761 + 12345) % $Pm) % 2001) - 1000"

  /** C2 oracle: the whole curation chain in SQL — featSql's fp_md5 +
    * lang_pred drive dedup and the language gate; the t11 scoring CTE
    * re-runs on the survivors; the sampling predicate is the
    * hashBucket formula inline.
    */
  val curationPipelineSql: String = {
    featSql + s"""
    , uniq AS (
      SELECT f.doc_id, f.lang_pred FROM feat2 f
      JOIN (SELECT fp_md5, MIN(doc_id) AS doc_id FROM feat2 GROUP BY fp_md5) k
        ON f.doc_id = k.doc_id
    ), en AS (
      SELECT u.doc_id, d.text FROM uniq u JOIN documents d ON d.doc_id = u.doc_id
      WHERE u.lang_pred = 'en'
    ), tk AS (
      SELECT doc_id, $toksSql AS toks FROM en
    ), g AS (
      SELECT doc_id,
             list_concat(toks, list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS grams
      FROM tk
    ), sc AS (
      SELECT doc_id,
             CAST(len(grams) AS BIGINT) AS n_grams,
             CAST(coalesce(list_sum(list_transform(grams, t -> $ngramWeightSql)), 0) AS BIGINT) AS score_milli
      FROM g
    ), b AS (
      SELECT *, CASE WHEN score_milli > 5000 THEN 'head'
                     WHEN score_milli >= -2500 THEN 'middle'
                     ELSE 'tail' END AS bucket
      FROM sc
    )
    SELECT doc_id, n_grams, score_milli, bucket FROM b
    WHERE (((doc_id % 1000000007) * 2654435761) % 1000000007 * 40503) % 1000000007 % 10000 <
          CASE bucket WHEN 'head' THEN 10000 WHEN 'middle' THEN 5000 ELSE 1000 END"""
  }

  /** SR2 oracle (StreamReplayQueries.streamCurationReplay): the
    * streaming admission chain's batch equivalent — score every
    * document with the t11 classifier, gate at score > 0, and reduce
    * to the DISTINCT (normalized-content fingerprint, score) set.
    * Score is a function of the lowercased whitespace-split tokens,
    * which the fingerprint normalization preserves, so every member
    * of a fingerprint class has the same score and the set is
    * well-defined regardless of which duplicate the stream admits.
    */
  val streamCurationReplaySql: String = s"""
    WITH tk AS (
      SELECT text, $toksSql AS toks FROM documents
    ), g AS (
      SELECT text,
             list_concat(toks, list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS grams
      FROM tk
    ), sc AS (
      SELECT md5($normSql) AS fp_md5,
             CAST(coalesce(list_sum(list_transform(grams, t -> $ngramWeightSql)), 0) AS BIGINT) AS score_milli
      FROM g
    )
    SELECT DISTINCT fp_md5, score_milli FROM sc WHERE score_milli > 0"""

  /** T16 oracle (Sampling.packSequences): the oracle runs the global
    * prefix sum as ONE window over doc_id (DuckDB is single-node —
    * the scale machinery the Spark side uses to avoid that window is
    * exactly what this cross-checks); `//` = Spark `div` keeps the
    * sequence ids exact.
    */
  val sequencePackingSql: String = s"""
    WITH tk AS (
      SELECT doc_id, CAST(COALESCE(len($toksSql), 0) AS BIGINT) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
      FROM tk
    )
    SELECT doc_id, n_tok,
           CASE WHEN n_tok > 0 THEN cum_prev // 256 END AS first_seq,
           CASE WHEN n_tok > 0 THEN (cum_prev + n_tok - 1) // 256 END AS last_seq,
           CAST(CASE WHEN n_tok > 0
                     THEN (cum_prev + n_tok - 1) // 256 - cum_prev // 256 + 1
                     ELSE 0 END AS BIGINT) AS n_seqs
    FROM c"""

  /** X36 oracle: the t11 scoring CTE with source carried through; the
    * same (score, doc_id) total order drives PERCENT_RANK.
    */
  val scoreCalibrationSql: String = {
    s"""
    WITH tk AS (
      SELECT doc_id, source, $toksSql AS toks FROM documents
    ), g AS (
      SELECT doc_id, source,
             list_concat(toks, list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS grams
      FROM tk
    ), sc AS (
      SELECT doc_id, source,
             CAST(coalesce(list_sum(list_transform(grams, t -> $ngramWeightSql)), 0) AS BIGINT) AS score_milli
      FROM g
    )
    SELECT doc_id, source, score_milli,
           PERCENT_RANK() OVER (PARTITION BY source
                                ORDER BY score_milli, doc_id) AS pct_rank
    FROM sc"""
  }

  /** T12 oracle: same shingle recurrence; first owner via MIN over the
    * postings; `//` truncation = Spark `div` on non-negative counts.
    */
  val ngramNoveltySql: String = s"""WITH ${shingleSql(3, "TRUE")},
    posting AS (
      SELECT doc_id, UNNEST(sh) AS shv FROM sh
    ), first_owner AS (
      SELECT shv, MIN(doc_id) AS first_doc FROM posting GROUP BY shv
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_e6
    FROM posting p JOIN first_owner f ON p.shv = f.shv
    GROUP BY p.doc_id"""

  /** X38 oracle: one shingle CTE, parity-split into corpus index and
    * batch postings; novelty via LEFT JOIN null-probe.
    */
  val incrementalNoveltySql: String = s"""WITH ${shingleSql(3, "TRUE")},
    cidx AS (
      SELECT DISTINCT UNNEST(sh) AS shv FROM sh WHERE doc_id % 2 = 0
    ), bp AS (
      SELECT doc_id, UNNEST(sh) AS shv FROM sh WHERE doc_id % 2 = 1
    )
    SELECT bp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN c.shv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN c.shv IS NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_e6
    FROM bp LEFT JOIN cidx c ON bp.shv = c.shv
    GROUP BY bp.doc_id"""

  /** X37 oracle: shingleSql's exact 3-gram recurrence, flattened to
    * (source, shingle) pairs and self-joined.
    */
  val sourceOverlapSql: String = s"""WITH ${shingleSql(3, "TRUE")},
    ss AS (
      SELECT DISTINCT d.source, UNNEST(sh.sh) AS shv
      FROM sh JOIN documents d ON sh.doc_id = d.doc_id
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM ss a JOIN ss b ON a.shv = b.shv AND a.source < b.source
    GROUP BY 1, 2"""

  /** S6 oracle: same derived orig+copy corpus as embeddingDupsSql,
    * positives (rounded cos >= 0.9, incl. each query's planted twin)
    * excluded BEFORE ranking.
    */
  val hardNegativesSql: String = s"""
    WITH base AS (SELECT vec_id, embedding FROM embeddings),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM base
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(generate_series(1, len(embedding)), i ->
               CAST(embedding[i] AS DOUBLE) *
                 (1 + CAST(((vec_id + i - 1) % 7) - 3 AS DOUBLE) / 100.0))
      FROM base)
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(${cosSql("q.embedding", "c.embedding")}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND(${cosSql("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS rank
      FROM v q, v c
      WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
        AND ROUND(${cosSql("q.embedding", "c.embedding")}, 6) < 0.9)
    WHERE rank <= 5"""

  /** T11 oracle: same tokenization (lowercase whitespace), same
    * uni+bigram expansion, same PolyHash(31) % 4096 bucketing, same
    * Knuth-mix milli-weights, same exact integer sum.
    */
  val qualityClassifierSql: String = {
    s"""
    WITH tk AS (
      SELECT doc_id, $toksSql AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             list_concat(toks, list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS grams
      FROM tk
    ), sc AS (
      SELECT doc_id,
             CAST(len(grams) AS BIGINT) AS n_grams,
             CAST(coalesce(list_sum(list_transform(grams, t -> $ngramWeightSql)), 0) AS BIGINT) AS score_milli
      FROM g
    )
    SELECT doc_id, n_grams, score_milli,
           CASE WHEN score_milli > 0 THEN 'keep' ELSE 'drop' END AS label
    FROM sc"""
  }

  /** S5 oracle: the PQ pipeline replayed in SQL. Same codebook sample
    * (16 smallest (id-hash, id) vectors, indexed in id order), same
    * per-subspace nearest-codeword assignment ((rounded left-fold L2²,
    * codeword index) — ROW_NUMBER mirrors Spark's array_min struct
    * ordering), same codeword-concatenation reconstruction, same
    * (rounded cos desc, neighbor asc) ranking.
    */
  /** Left-fold squared-L2 over one 8-dim subspace (elements a[m*8+i],
    * b[m*8+i]) — the PQ assignment distance, shared by the s5 and s8
    * oracles.
    */
  private def l2sqSql(a: String, b: String): String = {
    def sq(e: String) = s"($e) * ($e)"
    val diff = s"CAST($a AS DOUBLE) - CAST($b AS DOUBLE)"
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, 8), i -> ${sq(diff)})), (x, y) -> x + y)"
  }

  /** The PQ codebook-sample/assign/reconstruct CTE chain (s5's
    * pipeline through `recon`), shared verbatim by the s5 and s8
    * oracles. Emits CTEs pqsample, pqassign, recon(neighbor_id, rv).
    */
  private val pqReconCtes: String = s"""pqsample AS (
      SELECT embedding AS sv, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
      FROM (SELECT * FROM embeddings
            ORDER BY (((vec_id % 1000000007) * 2654435761) % 1000000007 * 40503)
                     % 1000000007 % 10000, vec_id
            LIMIT 16)
    ), pqassign AS (
      SELECT e.vec_id, mm.m, s.ci, s.sv,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id, mm.m
               ORDER BY ROUND(${l2sqSql("e.embedding[mm.m * 8 + i]", "s.sv[mm.m * 8 + i]")}, 6), s.ci) AS r
      FROM embeddings e
      CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS m) mm
      CROSS JOIN pqsample s
    ), recon AS (
      SELECT vec_id AS neighbor_id,
             flatten(list(sv[m * 8 + 1 : m * 8 + 8] ORDER BY m)) AS rv
      FROM pqassign WHERE r = 1
      GROUP BY vec_id
    )"""

  val knnPqSql: String = s"""
    WITH $pqReconCtes, scored AS (
      SELECT q.vec_id AS query_id, r.neighbor_id,
             ROUND(${cosSql("q.embedding", "r.rv")}, 6) AS approx_cos
      FROM embeddings q, recon r
      WHERE q.vec_id < 5 AND q.vec_id != r.neighbor_id
    )
    SELECT query_id, neighbor_id, approx_cos, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY approx_cos DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5"""

  /** S9 oracle: the SQ8 pipeline replayed in SQL — per-dimension
    * min/max grid over the corpus, the same clamp-at-255 floor encode
    * (identical operation order, so codes agree bit-for-bit), the same
    * affine dequantization, left-fold cosine, (rounded cos desc, id)
    * ranking.
    */
  val knnSq8Sql: String = s"""
    WITH sqstats AS (
      SELECT d, MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
             MAX(CAST(embedding[d] AS DOUBLE)) AS mx
      FROM embeddings, generate_series(1, 64) ds(d)
      GROUP BY d
    ), grid AS (
      SELECT list(mn ORDER BY d) AS mins, list(mx ORDER BY d) AS maxs FROM sqstats
    ), recon AS (
      SELECT e.vec_id AS neighbor_id,
             list_transform(generate_series(1, 64), i ->
               CASE WHEN g.maxs[i] = g.mins[i] THEN g.mins[i]
                    ELSE g.mins[i] +
                         LEAST(floor((CAST(e.embedding[i] AS DOUBLE) - g.mins[i])
                                     * 255.0 / (g.maxs[i] - g.mins[i])), 255.0)
                         * ((g.maxs[i] - g.mins[i]) / 255.0)
               END) AS rv
      FROM embeddings e, grid g
    ), scored AS (
      SELECT q.vec_id AS query_id, r.neighbor_id,
             ROUND(${cosSql("q.embedding", "r.rv")}, 6) AS approx_cos
      FROM embeddings q, recon r
      WHERE q.vec_id < 5 AND q.vec_id != r.neighbor_id
    )
    SELECT query_id, neighbor_id, approx_cos, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY approx_cos DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5"""

  /** S8 oracle: the s3 cell chain and the s5 PQ chain composed — probe
    * cells from the coarse quantizer, score PQ reconstructions within
    * the probed cells only.
    */
  val knnIvfPqSql: String = s"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS cv,
             ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
      FROM (SELECT * FROM embeddings
            ORDER BY (((vec_id % 1000000007) * 2654435761) % 1000000007 * 40503)
                     % 1000000007 % 10000, vec_id
            LIMIT 16)
    ), cellassign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND(${cosSql("e.embedding", "c.cv")}, 6) DESC, c.ci) AS r
      FROM embeddings e, cents c
    ), ca AS (
      SELECT vec_id AS neighbor_id, centroid_id
      FROM cellassign WHERE r = 1
    ), qa AS (
      SELECT vec_id AS query_id, embedding AS qv, centroid_id
      FROM cellassign WHERE vec_id < 5 AND r <= 4
    ), $pqReconCtes, scored AS (
      SELECT qa.query_id, ca.neighbor_id,
             ROUND(${cosSql("qa.qv", "rc.rv")}, 6) AS approx_cos
      FROM ca
      JOIN qa ON ca.centroid_id = qa.centroid_id
      JOIN recon rc ON rc.neighbor_id = ca.neighbor_id
      WHERE qa.query_id != ca.neighbor_id
    )
    SELECT query_id, neighbor_id, approx_cos, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY approx_cos DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5"""

  /** S7 oracle: each method's full SQL replay semi-joined against the
    * brute-force replay — the recall computation itself is trivial;
    * the strength is that all four pipelines re-run independently in
    * DuckDB and must agree with Spark pair-for-pair.
    */
  val annRecallSql: String = {
    def hits(name: String, sub: String) =
      s"""SELECT '$name' AS method, CAST(COUNT(*) AS BIGINT) AS n_hits,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ($knnBruteSql)) AS n_total,
             CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM ($knnBruteSql)) AS recall
      FROM ($sub) m JOIN ($knnBruteSql) b
        ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id"""
    Seq(hits("ivf", knnIvfSql), hits("lsh", knnLshSql), hits("pq", knnPqSql),
        hits("ivfpq", knnIvfPqSql), hits("sq8", knnSq8Sql), hits("bq", knnBqSql))
      .mkString("\n    UNION ALL\n    ")
  }

  /** total_bytes is the UTF-8 octet length of the payload; the decode
    * metadata (dims, frames, checksum) is codepoint-based — mirrors
    * Multimodal.decodeStub exactly, ASCII or not.
    */
  val modalityStatsSql: String = s"""
    SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           COUNT(*) AS n_docs,
           CAST(SUM(blen) AS BIGINT) AS total_bytes,
           CAST(SUM(64 + len % 256) AS BIGINT) AS sum_width,
           CAST(SUM(64 + (len * 7) % 256) AS BIGINT) AS sum_height,
           CAST(SUM(1 + len % 8) AS BIGINT) AS sum_frames,
           CAST(SUM(cs % 1000) AS BIGINT) AS checksum_probe
    FROM (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
             CAST(octet_length(encode(text)) AS BIGINT) AS blen,
             ${polySql("text", 31, Pm)} AS cs
      FROM documents)
    GROUP BY 1"""

  val frameSampleSql: String = s"""
    WITH f AS (
      SELECT doc_id, CAST(1 + length(text) % 8 AS INT) AS n_frames,
             ${polySql("text", 31, Pm)} AS cs
      FROM documents WHERE doc_id < 300 AND doc_id % 3 = 2)
    SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
           (cs + frame_idx * 2654435761) % 1000000007 AS frame_checksum
    FROM (SELECT *, UNNEST(generate_series(0, n_frames - 1, 2)) AS frame_idx FROM f)"""

  /** MM4 oracle: md5 of the text IS md5 of the payload — the payload
    * is the text's UTF-8 bytes and both engines hash UTF-8 (this
    * DuckDB's md5 doesn't take BLOB; the t6 redacted_md5 precedent
    * already pins VARCHAR-md5 parity). Planted copies collapse to
    * n_copies = 2 (more when base texts naturally coincide).
    */
  val mediaDedupSql: String = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
    )
    SELECT md5(text) AS payload_md5,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS kept_doc_id
    FROM corpus GROUP BY 1"""

  val resizePlanSql: String = """
    WITH f AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
             CAST(64 + length(text) % 256 AS INT) AS width,
             CAST(64 + (length(text) * 7) % 256 AS INT) AS height
      FROM documents WHERE doc_id < 300)
    SELECT doc_id, modality, width, height,
           CAST(CASE WHEN greatest(width, height) <= 224 THEN width
                ELSE width * 224 // greatest(width, height) END AS INT) AS resized_w,
           CAST(CASE WHEN greatest(width, height) <= 224 THEN height
                ELSE height * 224 // greatest(width, height) END AS INT) AS resized_h
    FROM f"""

  /** Mirrors TextAnalysis.repetitionStats: duplicate-token and
    * top-bigram fractions in exact e6 integers.
    */
  val repetitionSql: String = s"""WITH base AS (
    SELECT doc_id, list_transform($toksSql, t -> ${polySql("t", 31, Pm)}) AS th
    FROM documents
  ), feat AS (
    SELECT doc_id,
           CAST(len(th) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(th)) AS BIGINT) AS n_distinct_tokens,
           CASE WHEN len(th) >= 2 THEN
             list_transform(generate_series(1, len(th) - 1), i -> (th[i] * 131 + th[i + 1]) % $Pm)
           ELSE [] END AS bg
    FROM base
  ), bgc AS (
    SELECT doc_id, bg_h, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(bg) AS bg_h FROM feat)
    GROUP BY doc_id, bg_h
  ), top AS (SELECT doc_id, MAX(c) AS top_c FROM bgc GROUP BY doc_id
  ), fr AS (
    SELECT f.doc_id, n_tokens, n_distinct_tokens,
           CASE WHEN n_tokens > 0
                THEN CAST((n_tokens - n_distinct_tokens) * 1000000 // n_tokens AS BIGINT)
                ELSE 0 END AS dup_token_frac_e6,
           CASE WHEN n_tokens >= 2 AND top_c IS NOT NULL
                THEN CAST(top_c * 1000000 // (n_tokens - 1) AS BIGINT)
                ELSE 0 END AS top_bigram_frac_e6
    FROM feat f LEFT JOIN top USING (doc_id)
  )
  SELECT doc_id, n_tokens, n_distinct_tokens, dup_token_frac_e6, top_bigram_frac_e6,
         CASE WHEN dup_token_frac_e6 > 700000 OR top_bigram_frac_e6 > 200000
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS repetitive
  FROM fr"""

  /** T8 oracle: same windows via generate_series starts (chunk_idx =
    * start // step, exact — starts are multiples of step), DuckDB's
    * clamping 1-based list slice matching Spark's slice, md5 of the
    * space-joined window.
    */
  val chunkingSql: String = s"""WITH tk AS (
    SELECT doc_id, $rawToksSql AS toks FROM documents
  ), st AS (
    SELECT doc_id, toks, unnest(
             CASE WHEN len(toks) > 0 THEN generate_series(0, len(toks) - 1, 96)
                  ELSE [] END) AS s
    FROM tk
  )
  SELECT doc_id, CAST(s // 96 AS INT) AS chunk_idx, CAST(s AS INT) AS start_tok,
         CAST(len(toks[s + 1 : s + 128]) AS BIGINT) AS n_tok,
         md5(array_to_string(toks[s + 1 : s + 128], ' ')) AS chunk_md5
  FROM st"""

  val vocabTopKSql: String = s"""WITH tok AS (
    SELECT doc_id, unnest($toksSql) AS token FROM documents
  )
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY token
  ORDER BY tf DESC, token LIMIT 50"""

  /** C1 oracle: the k-means recurrence unrolled — one assign CTE per
    * iteration (argmin by (d2, c) via row_number) and one sums/means
    * CTE pair between iterations, with the identical exact integer
    * arithmetic (e6 micro-units, order-free integer sums, floor-div
    * means via the subtract-pmod identity, empty clusters keeping the
    * previous centroid through the LEFT JOIN coalesce).
    */
  /** The unrolled Lloyd CTE chain (v → c0 → a1/s1/c1 → … → a`iters`),
    * over a parameterizable (vec_id, embedding) source — shared by the
    * c1 oracle and RetrievalQueries' d17 SemDeDup oracle.
    */
  private[graft] def kmeansCtes(k: Int, iters: Int, dim: Int,
      srcSql: String = "SELECT vec_id, embedding FROM embeddings"): String = {
    def assign(t: Int) = s"""a$t AS (
    SELECT id, v, c, d2 FROM (
      SELECT id, v, c, d2,
             row_number() OVER (PARTITION BY id ORDER BY d2, c) AS rn
      FROM (SELECT id, v, c,
              CAST(list_sum(list_transform(generate_series(1, $dim),
                     i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS BIGINT) AS d2
            FROM v, c${t - 1}))
    WHERE rn = 1
  )"""
    def update(t: Int) = s"""s$t AS (
    SELECT c, i, CAST(SUM(v[i]) AS BIGINT) AS s, COUNT(*) AS n
    FROM a$t, UNNEST(generate_series(1, $dim)) AS u(i)
    GROUP BY c, i
  ), c$t AS (
    SELECT p.c, CASE WHEN q.cv2 IS NULL THEN p.cv ELSE q.cv2 END AS cv
    FROM c${t - 1} p LEFT JOIN (
      SELECT c, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv2
      FROM s$t GROUP BY c) q USING (c)
  )"""
    val steps = (1 until iters).map(t => assign(t) + ",\n  " + update(t)) :+ assign(iters)
    s"""v AS (
    SELECT vec_id AS id,
           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
    FROM ($srcSql)
  ), c0 AS (
    SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS cv
    FROM (SELECT id, v FROM v ORDER BY id LIMIT $k)
  ), ${steps.mkString(",\n  ")}"""
  }

  private def kmeansSql(k: Int, iters: Int, dim: Int): String =
    s"""WITH ${kmeansCtes(k, iters, dim)}
  SELECT id AS vec_id, CAST(c AS INT) AS cluster, d2 AS dist2_e12
  FROM a$iters"""

  val kmeansOracleSql: String = kmeansSql(k = 8, iters = 3, dim = 64)

  /** C3 oracle: the same unrolled fit, then the scored pairs against
    * the FINAL centroids (c2 for iters=3) re-ranked to extract both
    * the own and the nearest-other distance per point. The ratio runs
    * in HUGEINT (d²·1e6 tops BIGINT) with truncating `//`, matching
    * Spark's decimal `div`.
    */
  /** C4 oracle: the same unrolled fit and per-point assignment, then
    * one (cluster)-keyed window for rank and size; the prune verdict
    * is the exact integer threshold rk·100 ≤ n_c·25.
    */
  val prototypePruneSql: String = s"""WITH ${kmeansCtes(k = 8, iters = 3, dim = 64)},
  r AS (
    SELECT id, c, d2,
           ROW_NUMBER() OVER (PARTITION BY c ORDER BY d2, id) AS rk,
           COUNT(*) OVER (PARTITION BY c) AS n_in_cluster
    FROM a3
  )
  SELECT id AS vec_id, CAST(c AS INT) AS cluster, d2 AS dist2_e12,
         CAST(rk AS BIGINT) AS rk, CAST(n_in_cluster AS BIGINT) AS n_in_cluster,
         rk * 100 <= n_in_cluster * 25 AS pruned
  FROM r"""

  val kmeansQualitySql: String = s"""WITH ${kmeansCtes(k = 8, iters = 3, dim = 64)},
  sc AS (
    SELECT id, c, d2, row_number() OVER (PARTITION BY id ORDER BY d2, c) AS rn
    FROM (SELECT v.id AS id, c2.c AS c,
            CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> (v.v[i] - c2.cv[i]) * (v.v[i] - c2.cv[i]))) AS BIGINT) AS d2
          FROM v, c2)
  ),
  own AS (SELECT id, c, d2 FROM sc WHERE rn = 1),
  nxt AS (SELECT id, d2 AS d2n FROM sc WHERE rn = 2),
  pp AS (
    SELECT own.c AS cluster, own.d2 AS d_own,
           CASE WHEN n.d2n = 0 THEN 1000000
                ELSE CAST(CAST(own.d2 AS HUGEINT) * 1000000 // n.d2n AS BIGINT)
           END AS ratio_e6
    FROM own JOIN nxt n USING (id)
  )
  SELECT CAST(cluster AS INT) AS cluster,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(d_own AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_dist2_e12,
         CAST(SUM(ratio_e6) // COUNT(*) AS BIGINT) AS mean_ratio_e6,
         CAST(MAX(ratio_e6) AS BIGINT) AS max_ratio_e6
  FROM pp GROUP BY cluster"""

  /** T6 oracle: the same planted-PII derivation, RE2 counterparts of
    * the Java regexes (both restricted to a dialect-neutral subset),
    * and the 'g' flag on every replace (DuckDB defaults to
    * first-match-only where Spark replaces all).
    */
  val piiSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val ssn = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
    val phone = "\\+[0-9]{2} [0-9]{3} [0-9]{3} [0-9]{4}"
    s"""WITH p6 AS (
    SELECT doc_id, text
      || CASE WHEN doc_id % 7 = 0
              THEN ' contact u' || CAST(doc_id % 100 AS VARCHAR) || '@example.com'
              ELSE '' END
      || CASE WHEN doc_id % 11 = 0
              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
              ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END
      || CASE WHEN doc_id % 17 = 0 THEN ' tel +01 555 123 4567' ELSE '' END AS text
    FROM documents
  )
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ipv4,
         CAST(len(regexp_extract_all(text, '$ssn')) AS BIGINT) AS n_ssn,
         CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone,
         CAST(len(regexp_extract_all(text, '$email')) + len(regexp_extract_all(text, '$ip'))
            + len(regexp_extract_all(text, '$ssn')) + len(regexp_extract_all(text, '$phone'))
            AS BIGINT) AS pii_total,
         md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'),
             '$ssn', '[ID]', 'g'), '$phone', '[PHONE]', 'g')) AS redacted_md5
  FROM p6"""
  }

  /** T9 oracle: same planted text, same RE2/Java-neutral character
    * classes; both engines' `length` counts code points, and the
    * planted literals are precomposed (one code point per accented
    * char) so the counts agree byte-for-byte.
    */
  val charsetSql: String = """WITH p9 AS (
    SELECT doc_id, text
      || CASE WHEN doc_id % 5 = 0 THEN ' déjà vu Ünïcode ©2024' ELSE '' END
      || CASE WHEN doc_id % 9 = 0 THEN ' 12 345 MIXED Case' ELSE '' END AS text
    FROM documents
  )
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_cp,
         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
         CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
         CAST(len(regexp_extract_all(text, '[ \t\n\r]')) AS BIGINT) AS n_space,
         CAST(len(regexp_extract_all(text, '[^\x00-\x7f]')) AS BIGINT) AS n_non_ascii,
         CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) * 1000000 // length(text) AS BIGINT)
         END AS alpha_frac_e6,
         CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(len(regexp_extract_all(text, '[^\x00-\x7f]')) * 1000000 // length(text) AS BIGINT)
         END AS non_ascii_frac_e6
  FROM p9"""

  /** Mirrors Dedup.decontaminationOverlap (3-gram shingle overlap vs
    * the doc_id % 97 = 0 benchmark slice).
    */
  val decontaminationSql: String = s"""WITH ${shingleSql(3, "doc_id % 97 <> 0", "shc")},
  ${shingleSql(3, "doc_id % 97 = 0", "shb")},
  ce AS (SELECT doc_id, unnest(sh) AS h FROM shc),
  be AS (SELECT doc_id AS bench_id, unnest(sh) AS h FROM shb)
  SELECT ce.doc_id, COUNT(DISTINCT ce.h) AS n_overlap,
         COUNT(DISTINCT be.bench_id) AS n_bench_docs
  FROM ce JOIN be ON ce.h = be.h
  GROUP BY ce.doc_id"""

  // ---------------------------------------------------------------
  // T10 — BPE pair statistics (the first tokenizer-training step)
  // ---------------------------------------------------------------

  /** T10 — corpus-weighted adjacent-char-pair frequencies, the merge
    * the BPE trainer would pick first, and each candidate's
    * compression gain ([[graft.operators.Bpe.pairStats]]).
    */
  def bpePairStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.pairStats(docs(s, dir), topK = 10)

  /** Pair occurrences count OVERLAPPING adjacencies (the BPE count);
    * merge_savings counts NON-overlapping left-to-right applications
    * via replace() — semantics both engines share.
    */
  private val bpePairStatsSql: String = s"""
    WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
    wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc
           FROM (SELECT unnest(toks) AS word FROM d) GROUP BY word),
    pc AS (
      SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
      FROM (SELECT wc, unnest(CASE WHEN length(word) < 2 THEN []::VARCHAR[]
                   ELSE list_transform(range(1, length(word)),
                                       i -> substr(word, i, 2)) END) AS pair
            FROM wc)
      GROUP BY pair
    ),
    topk AS (
      SELECT pair, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS INT) AS rnk
      FROM pc ORDER BY cnt DESC, pair ASC LIMIT 10
    ),
    sv AS (
      SELECT t.pair,
             CAST(SUM(((length(w.word) - length(replace(w.word, t.pair, ''))) // 2)
                      * w.wc) AS BIGINT) AS merge_savings
      FROM topk t CROSS JOIN wc w
      GROUP BY t.pair
    )
    SELECT t.pair, t.cnt, t.rnk, t.rnk = 1 AS is_selected, s.merge_savings
    FROM topk t JOIN sv s ON s.pair = t.pair"""

  // ---------------------------------------------------------------
  // T13 — BPE encode (tokenizer application)
  // ---------------------------------------------------------------

  /** T13 — train 4 BPE merges on the corpus (Bpe.learnMerges) and
    * ENCODE it with them: per-source word/char/subword-token counts
    * and the chars-per-token compression ratio. Completes the t10
    * story: t10 is the trainer's first counting pass, t13 is the
    * trained tokenizer applied back to the corpus (the op every
    * training pipeline runs to produce token budgets).
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val merges = graft.operators.Bpe.learnMerges(d, n = 4)
    graft.operators.Bpe.encodeStats(d, merges)
  }

  /** The oracle replays the 4 training rounds UNROLLED. Words are
    * carried as a delimited string — every symbol wrapped
    * chr(1)‖sym‖chr(2) — where one left-to-right non-overlapping
    * `replace` of chr(1)s1 chr(2)chr(1)s2 chr(2) with
    * chr(1)s1s2 chr(2) is EXACTLY the greedy BPE merge pass (the
    * consumed region ends at s2's closing delimiter, so a following
    * adjacent pair keeps its opening delimiter — "aaaaa" under (a,a)
    * gives [aa,aa,a] in both engines), and the full wrapping makes a
    * false match inside a multi-char symbol impossible. Pair counts
    * per round come from re-splitting the string into the symbol
    * list.
    */
  private def bpeRoundSql(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""p$k AS (
      SELECT pr.s1 AS s1, pr.s2 AS s2, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        SELECT wc, unnest(list_transform(range(1, len(l)),
                 i -> struct_pack(s1 := l[i], s2 := l[i+1]))) AS pr
        FROM (SELECT wc, str_split(substr(s, 2, length(s) - 2), chr(2) || chr(1)) AS l
              FROM $prev)
      ) GROUP BY 1, 2
    ),
    m$k AS (SELECT s1, s2 FROM p$k ORDER BY cnt DESC, s1 ASC, s2 ASC LIMIT 1),
    w$k AS (SELECT word, wc, replace(s,
              chr(1) || (SELECT s1 FROM m$k) || chr(2) || chr(1) || (SELECT s2 FROM m$k) || chr(2),
              chr(1) || (SELECT s1 FROM m$k) || (SELECT s2 FROM m$k) || chr(2)) AS s
            FROM $prev)"""
  }

  private val bpeEncodeSql: String = s"""
    WITH d AS (SELECT source, $toksSql AS toks FROM documents),
    sw AS (SELECT source, unnest(toks) AS word FROM d),
    swc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM sw GROUP BY source, word),
    wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM sw GROUP BY word),
    w0 AS (SELECT word, wc,
             chr(1) || array_to_string(
               list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)),
               chr(2) || chr(1)) || chr(2) AS s
           FROM wc),
    ${(1 to 4).map(bpeRoundSql).mkString(",\n")},
    enc AS (SELECT word,
              CAST(len(str_split(substr(s, 2, length(s) - 2), chr(2) || chr(1))) AS BIGINT) AS n_sym
            FROM w4)
    SELECT swc.source AS source,
           CAST(SUM(swc.cnt) AS BIGINT) AS n_words,
           CAST(SUM(length(swc.word) * swc.cnt) AS BIGINT) AS n_chars,
           CAST(SUM(e.n_sym * swc.cnt) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(length(swc.word) * swc.cnt) * 1000000
                // SUM(e.n_sym * swc.cnt) AS BIGINT) AS compression_e6
    FROM swc JOIN enc e ON e.word = swc.word
    GROUP BY swc.source"""

  // ---------------------------------------------------------------
  // Wiring
  // ---------------------------------------------------------------

  val board: Seq[BoardQuery] = Seq(
    BoardQuery("t10_bpe_pairs", bpePairStatsSql, bpePairStats),
    BoardQuery("t13_bpe_encode", bpeEncodeSql, bpeEncode),
    BoardQuery("t1_text_stats", textStatsSql, textStats),
    BoardQuery("t2_lang_id", langIdSql, langIdConfusion),
    BoardQuery("t3_fingerprints", fingerprintSql, fingerprintStats),
    BoardQuery("t4_doc_features", docFeaturesSql, docFeatures),
    BoardQuery("t5_repetition", repetitionSql, repetitionStats),
    BoardQuery("t6_pii", piiSql, piiScan),
    BoardQuery("t7_vocab_topk", vocabTopKSql, vocabTopK),
    BoardQuery("t8_chunking", chunkingSql, chunking),
    BoardQuery("t9_charset", charsetSql, charsetStats),
    BoardQuery("t15_readability", readabilitySql, readabilityQ),
    BoardQuery("t17_quality_gate", qualityFunnelSql, qualityFunnel),
    BoardQuery("t16_sequence_packing", sequencePackingSql, (s, dir) =>
      Sampling.packSequences(docs(s, dir))),
    BoardQuery("d1_exact_dedup", exactDedupSql, exactDedupStats),
    BoardQuery("d8_decontamination", decontaminationSql, decontamination),
    BoardQuery("d10_decontam_bloom", decontaminationSql, decontaminationBloom),
    BoardQuery("c1_kmeans", kmeansOracleSql, kmeans),
    BoardQuery("c3_cluster_quality", kmeansQualitySql, kmeansQuality),
    BoardQuery("c4_prototype_prune", prototypePruneSql, prototypePrune),
    BoardQuery("d2_jaccard_pairs", jaccardPairsSql, jaccardPairs),
    BoardQuery("d3_minhash_sigs", minhashSigSql, minhashSignatures),
    BoardQuery("d4_minhash_candidates", minhashCandSql, minhashCandidates),
    BoardQuery("d5_simhash", simhashSql, simhashFingerprints),
    BoardQuery("d7_near_dedup", nearDedupSql, nearDedup),
    BoardQuery("d19_jaccard_est", jaccardEstSql, jaccardEstQualityQ),
    BoardQuery("d9_dup_clusters", dupClustersSql, dupClusters),
    BoardQuery("d11_near_dedup_cc", nearDedupCCSql, nearDedupCC),
    BoardQuery("d12_substring_dup", substringDupSql, substringDup),
    BoardQuery("d20_dup_spans", dupSpansSql, dupSpansQ),
    BoardQuery("d13_window_decontam", windowDecontamSql, windowDecontam),
    BoardQuery("d14_containment", containmentSql, containment),
    BoardQuery("d21_lsh_tuning", lshTuningSql, lshTuningQ),
    BoardQuery("d22_winnowing", winnowingSql, winnowingQ),
    BoardQuery("d23_containment", rareContainmentSql, containmentQ),
    BoardQuery("d24_containment_recall", containmentRecallSql, containmentRecallQ),
    BoardQuery("d16_incremental_dedup", incrementalDedupSql, incrementalDedup),
    BoardQuery("x43_split_decontam", splitDecontamSql, splitDecontam),
    BoardQuery("t18_token_entropy", tokenEntropySql, tokenEntropyQ),
    BoardQuery("x24_domain_cap", domainCapSql, domainCap),
    BoardQuery("x25_train_shards", trainShardsSql, trainShards),
    BoardQuery("d15_quality_dedup", qualityDedupSql, qualityDedup),
    BoardQuery("d6_embedding_dups", embeddingDupsSql, embeddingDups),
    BoardQuery("d18_semantic_decontam", semanticDecontamSql, semanticDecontamQ),
    BoardQuery("s1_knn_brute", knnBruteSql, knnBrute),
    BoardQuery("s4_filtered_knn", filteredKnnSql, filteredKnn),
    BoardQuery("s2_knn_lsh", knnLshSql, knnLsh),
    BoardQuery("s3_knn_ivf", knnIvfSql, knnIvf),
    BoardQuery("s5_knn_pq", knnPqSql, knnPq),
    BoardQuery("s8_knn_ivfpq", knnIvfPqSql, knnIvfPq),
    BoardQuery("s9_knn_sq8", knnSq8Sql, knnSq8),
    BoardQuery("s10_knn_bq", knnBqSql, knnBq),
    BoardQuery("t11_quality_classifier", qualityClassifierSql, qualityClassifier),
    BoardQuery("s6_hard_negatives", hardNegativesSql, hardNegativesQ),
    BoardQuery("c2_curation_pipeline", curationPipelineSql, curationPipeline),
    BoardQuery("s7_ann_recall", annRecallSql, annRecallReport),
    BoardQuery("x36_score_calibration", scoreCalibrationSql, scoreCalibration),
    BoardQuery("t12_ngram_novelty", ngramNoveltySql, ngramNovelty),
    BoardQuery("x38_incremental_novelty", incrementalNoveltySql, incrementalNovelty),
    BoardQuery("x37_source_overlap", sourceOverlapSql, sourceOverlap),
    BoardQuery("mm1_modality_stats", modalityStatsSql, modalityStats),
    BoardQuery("mm2_frame_sample", frameSampleSql, frameSample),
    BoardQuery("mm3_resize_plan", resizePlanSql, resizePlan),
    BoardQuery("mm4_media_dedup", mediaDedupSql, mediaDedup),
    BoardQuery("mm5_perceptual_dedup", perceptualDedupSql, perceptualDedupQ))
}
