package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard (north-star extensions,
  * SURVEY.md §7.6).
  *
  * Scale design notes (the point of each algorithm at 100 TB):
  *  - exact: one hash-aggregate on the fingerprint — a single shuffle
  *    whose key count is the number of distinct documents.
  *  - MinHash+LSH: per-row signature (pure projection), then
  *    explode-by-band (b rows/doc) and a hash-aggregate on band keys.
  *    Candidate pairs come only from same-bucket groups, so the
  *    quadratic blowup is bounded per bucket instead of per corpus —
  *    the standard way near-dup detection survives web scale.
  *  - SimHash: per-row 32-bit fingerprint; near-dups cluster by
  *    fingerprint (or by rotated prefixes for Hamming distance > 0).
  *  - n-gram Jaccard: exact pairwise verification — only ever applied
  *    to bounded candidate sets (LSH output), never the full corpus.
  *
  * All hashing is in portable integer arithmetic (polynomial rolling
  * hashes mod 1e9+7) — deterministic across engines and cluster sizes.
  */
object Dedup {

  val P = 1000000007L

  /** Portable token hash: polynomial over codepoints, h*31+c mod P —
    * the native PolyHash expression (one compiled loop; the fold-based
    * form walked interpreted lambdas per character).
    */
  def tokenHash(tok: Column): Column =
    graft.functions.PolyHashFunctions.polyHash(tok, 31L, P)

  /** Lowercased whitespace tokens. */
  private def toks(text: Column): Column = TextAnalysis.tokens(lower(text))

  /** All token hashes of a text column (one pass over the tokens). */
  def tokenHashes(text: Column): Column = transform(toks(text), t => tokenHash(t))

  /** Shingle hashes from a *materialized* token-hash array column:
    * polynomial combination of n consecutive token hashes. Native
    * fused expression (graft.functions.ShingleHashes — rolling window
    * + dedup in one compiled loop); the coalesce preserves the fold
    * form's null-text -> empty-array behavior.
    */
  def shinglesFromTokenHashes(th: Column, n: Int): Column =
    coalesce(graft.functions.ShingleFunctions.shingleHashes(th, n),
      array().cast("array<bigint>"))

  /** Interpreted HOF reference form (spec cross-check only). */
  def shinglesFromTokenHashesFold(th: Column, n: Int): Column =
    when(size(th) >= n,
      array_distinct(transform(
        sequence(lit(0), size(th) - n),
        i => (0 until n).foldLeft(lit(0L): Column)((acc, j) =>
          pmod(acc * 131L + element_at(th, i + j + 1), lit(P))))))
      .otherwise(array().cast("array<bigint>"))

  /** Word n-gram shingles, each hashed to a long.
    *
    * NOTE: do not inline this Column into further array expressions —
    * higher-order functions are interpreted (no codegen CSE), so a
    * consumer that references the shingle array m times re-evaluates
    * the whole token-hash tree m times. Stage through projections
    * instead (see withShingles): Catalyst's CollapseProject keeps an
    * expensive alias materialized when it is referenced more than
    * once, which turns an accidental O(tokens * shingles * k) blowup
    * into O(tokens + shingles + k) per row. (Found live: the LSH
    * candidate query dropped from 180s to seconds at sf0.1.)
    */
  def shingleHashes(text: Column, n: Int): Column =
    shinglesFromTokenHashes(tokenHashes(text), n)

  /** Staged shingle computation: adds column `out` with the distinct
    * shingle-hash set, materializing tokens-hashes first.
    *
    * The staged column is a [[graft.functions.StageBarrier]] (r18,
    * guide §4.4; the one optimizer barrier, in a Project as its
    * contract requires): downstream `explode(sh)` infers a `size(sh) > 0`
    * predicate (InferFiltersFromGenerate) and predicate pushdown
    * re-inlines the whole tokenize+shingle tree into the pushed scan
    * filter — every consumer row paid the tree TWICE (filter +
    * projection), measured in the d8/d10/d14/d23 plans. The barrier
    * pins it to one evaluation; the value is a pure function of the
    * row, so nothing downstream can change.
    */
  def withShingles(docs: DataFrame, textCol: String, n: Int,
                   out: String = "sh"): DataFrame =
    docs.withColumn("__th", tokenHashes(col(textCol)))
      .withColumn(out,
        graft.functions.StageBarrier(shinglesFromTokenHashes(col("__th"), n)))
      .drop("__th")

  /** Deterministic (a,b) parameters for the k MinHash permutations.
    * The multipliers must be large and well-mixed: with small a (3, 5,
    * 7...) the "permutations" preserve magnitude ordering, every sig
    * position picks nearly the same element, and the Jaccard estimator
    * is badly biased (caught by TextDedupSpec). Knuth-style
    * multiplicative constants mod the prime give independent-looking
    * bijections, reproducible everywhere.
    */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    graft.functions.MinHashFunctions.params(k)

  /** MinHash signature: sig_i = min over shingles of (a_i*x+b_i mod P).
    * Empty shingle set -> all P (sentinel). Native fused expression —
    * one pass over the shingles inside codegen
    * (graft.functions.MinHashSig); [[minhashSignatureFold]] is the
    * composable reference form, spec-pinned bit-identical.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    graft.functions.MinHashFunctions.minhashSig(shingles, k)

  /** Fold-based reference implementation (k interpreted
    * array_min/transform trees — kept for cross-checking the native
    * expression in TextDedupSpec, not for production plans).
    */
  def minhashSignatureFold(shingles: Column, k: Int): Column = {
    val parts = minhashParams(k).map { case (a, b) =>
      when(size(shingles) > 0,
        array_min(transform(shingles, x => pmod(x * a + b, lit(P)))))
        .otherwise(lit(P))
    }
    array(parts: _*)
  }

  /** LSH band keys: the signature split into `bands` bands of
    * `rowsPerBand`, each band reduced to one portable long key
    * (band index mixed in so bands never collide across positions).
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    val keys = (0 until bands).map { bIdx =>
      (0 until rowsPerBand).foldLeft(lit(bIdx.toLong): Column)((acc, r) =>
        pmod(acc * 131L + element_at(sig, bIdx * rowsPerBand + r + 1), lit(P)))
    }
    array(keys: _*)
  }

  /** MinHash+LSH candidate pairs over a document table.
    * Returns (doc_a, doc_b) with doc_a < doc_b, distinct.
    *
    * Plan shape: projection (signatures) -> explode(bands) -> shuffle
    * on band key -> self-join within bucket. At scale the join is a
    * shuffled hash join on band_key; bucket sizes are the only
    * quadratic term.
    */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleN: Int = 3,
                        k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands — " +
        "otherwise the trailing signature positions are silently ignored")
    val rows = k / bands
    // Docs too short to shingle can't be near-duplicates by
    // definition — and all of them share the sentinel signature, so
    // keeping them would put every short doc in one quadratic bucket
    // (caught by EdgeCaseSpec). Filter on the cheap token count BEFORE
    // the hash projections: a filter on the shingle column itself gets
    // predicate-pushed below the staged projections and re-inlines the
    // whole token-hash tree (8x slowdown, caught live in Bench).
    val eligible = docs.select(col(idCol).as("id"), col(textCol))
      .filter(size(TextAnalysis.tokens(col(textCol))) >= shingleN)
    val sig = withShingles(eligible, textCol, shingleN)
      .select(col("id"), minhashSignature(col("sh"), k).as("sig"))
    val banded = sig.select(col("id"), col("sig"),
        posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band", "key")))
      .select(col("id"), col("band"), col("key"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
  }

  /** Estimated Jaccard from MinHash signatures (matching positions/k),
    * in exact integer micro-units.
    */
  def minhashJaccardE6(sigA: Column, sigB: Column, k: Int): Column = {
    val matches = size(filter(zip_with(sigA, sigB, (x, y) => x === y), m => m))
    (matches.cast("long") * 1000000L / k).cast("long")
  }

  /** Exact pairwise n-gram Jaccard over a (bounded!) document set:
    * all pairs with similarity >= minJaccardE6. Quadratic — apply to
    * LSH candidates or sampled subsets only.
    */
  def jaccardPairs(docs: DataFrame, minJaccardE6: Long,
                   idCol: String = "doc_id", textCol: String = "text",
                   shingleN: Int = 2, maxRows: Long = 100000L): DataFrame = {
    // Sort each shingle set once per row: the per-pair intersection
    // then runs as a codegen'd merge walk (SortedIntersectSize)
    // instead of a hash set per pair — the cost that dominates the
    // quadratic verification stage. The sorted-shingle frame is
    // eagerly localCheckpoint'ed: ReuseExchange does not fire across
    // self-join aliasing, so without it the whole token->shingle tree
    // runs twice; materializing is safe exactly because this operator
    // is restricted to bounded sets.
    val sh = withShingles(docs.select(col(idCol).as("id"), col(textCol)), textCol, shingleN)
      .select(col("id"), array_sort(col("sh")).as("sh"))
      .localCheckpoint(true)
    // Hard guard: this form is O(n²) by design (verification-stage /
    // oracle baseline). Refuse silently-quadratic runs over a corpus —
    // the production path is nearDedup (LSH buckets → verify). The
    // count is a cheap scan of the just-materialized checkpoint.
    val n = sh.count()
    require(n <= maxRows,
      s"jaccardPairs is an all-pairs baseline for bounded sets; got $n rows " +
        s"(max $maxRows). Use nearDedup/minhashCandidates at corpus scale.")
    val a = sh.as("a"); val b = sh.as("b")
    // Stage intersection size once per pair (the arrays are distinct
    // sets, so |A∪B| = |A|+|B|-|A∩B| avoids a second array walk).
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        graft.functions.ArrayFunctions.sortedIntersectSize(col("a.sh"), col("b.sh")).as("inter"),
        (size(col("a.sh")) + size(col("b.sh"))).cast("long").as("szsum"))
      .withColumn("uni", col("szsum") - col("inter"))
      .withColumn("jaccard_e6",
        when(col("uni") === 0, lit(0L))
          .otherwise(((col("inter") * 1000000L) - pmod(col("inter") * 1000000L, col("uni"))) / col("uni"))
          .cast("long"))
      .filter(col("jaccard_e6") >= minJaccardE6)
      .select("doc_a", "doc_b", "jaccard_e6")
  }

  /** D19 — MinHash estimator-quality harness: for every pair in a
    * bounded slice, the signature-based Jaccard ESTIMATE
    * (matching-positions/k — the number a 100 TB pipeline trusts at
    * verify time, since it never re-touches raw text) against the
    * exact shingle Jaccard, aggregated into error stats per
    * exact-Jaccard decile. The all-pairs exact side exists only to
    * GRADE the estimator and carries jaccardPairs' bounded-set guard;
    * production reads the estimate straight off d3's signatures.
    * Mirrors s7_ann_recall's posture: the evaluation harness is
    * itself an oracle-checked operator.
    */
  def jaccardEstQuality(docs: DataFrame, shingleN: Int = 2, k: Int = 16,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxRows: Long = 100000L): DataFrame = {
    // Cheap token-count pre-filter, NOT a filter on `sh` (a shingle
    // filter gets predicate-pushed below the staged projection and
    // re-inlines the token-hash tree — see minhashCandidates).
    val eligible = docs.select(col(idCol).as("id"), col(textCol))
      .filter(size(TextAnalysis.tokens(col(textCol))) >= shingleN)
    val sh = withShingles(eligible, textCol, shingleN)
      .select(col("id"), array_sort(col("sh")).as("sh"),
        minhashSignature(col("sh"), k).as("sig"))
      .localCheckpoint(true)
    val n = sh.count()
    require(n <= maxRows,
      s"jaccardEstQuality grades the estimator on a bounded slice; got $n rows " +
        s"(max $maxRows). The production path reads estimates off signatures alone.")
    val a = sh.as("a"); val b = sh.as("b")
    val pairs = a.join(b, col("a.id") < col("b.id"))
      .select(
        graft.functions.ArrayFunctions.sortedIntersectSize(col("a.sh"), col("b.sh")).as("inter"),
        (size(col("a.sh")) + size(col("b.sh"))).cast("long").as("szsum"),
        minhashJaccardE6(col("a.sig"), col("b.sig"), k).as("est_e6"))
      .withColumn("uni", col("szsum") - col("inter"))
      .withColumn("exact_e6",
        when(col("uni") === 0, lit(0L))
          .otherwise(((col("inter") * 1000000L) - pmod(col("inter") * 1000000L, col("uni"))) / col("uni"))
          .cast("long"))
      .withColumn("abs_err_e6", abs(col("est_e6") - col("exact_e6")))
    pairs.groupBy(expr("exact_e6 div 100000").as("bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("abs_err_e6")).as("sum_abs_err_e6"),
        max(col("abs_err_e6")).as("max_abs_err_e6"))
      .select(col("bucket"), col("n_pairs"), col("sum_abs_err_e6"),
        expr("sum_abs_err_e6 div n_pairs").as("mean_abs_err_e6"),
        col("max_abs_err_e6"))
  }

  /** Theoretical LSH S-curve candidate probability at Jaccard τ = 1/2
    * for a (bands, rowsPerBand) split: 1 − (1 − τ^r)^b. τ = 1/2 makes
    * it a dyadic rational — (2^(r·b) − (2^r − 1)^b) / 2^(r·b) — so the
    * e6-floored value is an exact integer both engines can carry as a
    * literal (the x40 discount-table discipline: no cross-engine
    * floating-point pow).
    */
  private[graft] def sCurveHalfE6(bands: Int, rowsPerBand: Int): Long = {
    val den = BigInt(2).pow(rowsPerBand * bands)
    val num = den - (BigInt(2).pow(rowsPerBand) - 1).pow(bands)
    (num * 1000000 / den).toLong
  }

  /** D21 — LSH band-configuration tuning harness: every
    * (bands, rowsPerBand) split of the SAME k-position MinHash
    * signature measured against exact-Jaccard ground truth on a
    * bounded slice — the S-curve observed, not assumed. At 100 TB the
    * (b, r) choice IS the dedup pipeline's cost/recall dial (band
    * bucket-join volume vs missed near-dups); this harness sets that
    * dial from a sample before the corpus-wide run. Ground truth is
    * [[jaccardPairs]]' all-pairs exact Jaccard at τ (quadratic —
    * bounded slice only, the d2/d19 oracle posture); candidates per
    * config come from the PRODUCTION banding ([[bandKeys]] buckets,
    * equi-join), so measured recall is the recall the real pipeline
    * would get. One row per config: theoretical S-curve probability
    * at τ (exact integer, τ = 1/2), truth/candidate/hit counts, and
    * e6-floored recall and precision (NULL when the denominator is 0).
    */
  def lshTuning(docs: DataFrame, shingleN: Int = 3, k: Int = 16,
                configs: Seq[(Int, Int)] = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)),
                idCol: String = "doc_id", textCol: String = "text",
                maxRows: Long = 100000L): DataFrame = {
    configs.foreach { case (b, r) =>
      require(b * r == k, s"config ($b bands × $r rows) must cover the k=$k signature")
    }
    val tauE6 = 500000L // τ = 1/2: the sCurveHalfE6 closed form's constant
    // ONE corpus pass (r18 optimization round): the truth stage's
    // sorted shingle sets and the config stage's MinHash signatures
    // come from the SAME tokenize+shingle pipeline, so stage them in
    // one checkpointed frame instead of the former two (jaccardPairs
    // built + checkpointed its own shingle table, then the signature
    // pass re-tokenized the corpus from scratch). Restricting both
    // stages to ELIGIBLE docs (≥ shingleN tokens) is exact: an
    // ineligible doc's shingle set is empty, so its exact Jaccard with
    // anything is 0 < τ (τ = 1/2 > 0, hardcoded above) and the sig
    // pipeline always excluded it — neither truth nor candidates can
    // contain it. minhashSignature over the SORTED set is unchanged
    // (a min over a set is order-independent; the d19 harness pins
    // this shape).
    val eligible = docs.select(col(idCol).as("id"), col(textCol))
      .filter(size(TextAnalysis.tokens(col(textCol))) >= shingleN)
    val shSig = withShingles(eligible, textCol, shingleN)
      .select(col("id"), array_sort(col("sh")).as("sh"))
      .select(col("id"), col("sh"), minhashSignature(col("sh"), k).as("sig"))
      .localCheckpoint(true)
    // Same bounded-set guard as jaccardPairs: the all-pairs truth
    // stage below is O(n²) by design.
    val n = shSig.count()
    require(n <= maxRows,
      s"lshTuning's all-pairs truth stage is bounded; got $n eligible rows " +
        s"(max $maxRows). Tune from a sample, never a corpus share.")
    val a0 = shSig.as("a"); val b0 = shSig.as("b")
    val truth = a0.join(b0, col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        graft.functions.ArrayFunctions.sortedIntersectSize(col("a.sh"), col("b.sh")).as("inter"),
        (size(col("a.sh")) + size(col("b.sh"))).cast("long").as("szsum"))
      .withColumn("uni", col("szsum") - col("inter"))
      .withColumn("jaccard_e6",
        when(col("uni") === 0, lit(0L))
          .otherwise(((col("inter") * 1000000L) - pmod(col("inter") * 1000000L, col("uni"))) / col("uni"))
          .cast("long"))
      .filter(col("jaccard_e6") >= tauE6)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))
      .localCheckpoint(true) // reused by every config's left join
    val nTruth = truth.count()
    val perConfig = configs.map { case (b, r) =>
      val banded = shSig.select(col("id"),
        posexplode(bandKeys(col("sig"), b, r)).as(Seq("band", "key")))
      val l = banded.as("a"); val rr = banded.as("b")
      val cand = l.join(rr,
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b")).distinct()
      cand.join(truth, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(col("is_true")), lit(0L)).as("true_pos"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(sCurveHalfE6(b, r)).as("s_curve_e6"),
          lit(nTruth).as("n_truth"), col("n_candidates"), col("true_pos"))
    }
    perConfig.reduce(_.unionByName(_))
      .withColumn("recall_e6",
        when(col("n_truth") === 0, lit(null).cast("long"))
          .otherwise(expr("true_pos * 1000000 div n_truth")))
      .withColumn("precision_e6",
        when(col("n_candidates") === 0, lit(null).cast("long"))
          .otherwise(expr("true_pos * 1000000 div n_candidates")))
  }

  /** D22 — winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): the ordered k-gram hash sequence of each
    * document is swept by a window of `w` consecutive grams; every
    * window contributes its MINIMUM hash, and the distinct selected
    * values are the document's fingerprint set. The winnowing
    * guarantee: any shared run of at least w + k − 1 tokens produces
    * at least one SHARED fingerprint — LOCAL duplicate detection at
    * expected density 2/(w+1) of the grams, where MinHash answers only
    * whole-document similarity. Returns (id, fps).
    *
    * Shape at scale: a pure scan-side projection (token hash → gram
    * fold → window min → distinct), no shuffle; the min-sampling is
    * what makes the downstream fingerprint index ~2/(w+1) the size of
    * a full k-gram index.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
    // Barrier-staged like withShingles: the size filter (and the
    // downstream explode's inferred predicate) otherwise pushes below
    // this projection with the winnow tree inlined — 2× per row
    // (d22's r18 plan; PlanSpec's d22 case pins one tree per side).
    docs.select(col(idCol).as("id"),
        graft.functions.StageBarrier(graft.functions.WinnowFunctions
          .winnowFingerprints(tokenHashes(col(textCol)), k, w)).as("fps"))
      .filter(size(col("fps")) > 0)
  }

  /** Interpreted HOF reference form (spec cross-check only — Catalyst
    * inlines the staged gram projection into the per-window slice
    * lambda, re-evaluating the O(m·k) gram tree per window: O(m²·k)
    * interpreted lambdas per document. The native expression computes
    * grams once and takes window minima with a monotonic deque.)
    * Expressions are TOTAL (when-guarded): downstream explodes infer
    * size(fps) > 0 predicates that re-evaluate the tree on UNFILTERED
    * rows, where sequence(1, negative) descends through 0 straight
    * into slice's start check (found live).
    */
  private[graft] def winnowFingerprintsFold(docs: DataFrame, k: Int = 4, w: Int = 5,
                                            idCol: String = "doc_id",
                                            textCol: String = "text"): DataFrame = {
    def gram(thc: Column, i: Column): Column =
      (0 until k).foldLeft(lit(0L): Column)((acc, j) =>
        pmod(acc * 131L + element_at(thc, i + j), lit(P)))
    val emptyFps = array().cast("array<bigint>")
    docs.select(col(idCol).as("id"), tokenHashes(col(textCol)).as("__th"))
      .filter(size(col("__th")) >= k + w - 1) // at least one full window
      .withColumn("__seq",
        when(size(col("__th")) >= k,
          transform(sequence(lit(1), size(col("__th")) - (k - 1)),
            i => gram(col("__th"), i))).otherwise(emptyFps))
      .select(col("id"),
        when(size(col("__seq")) >= w,
          array_distinct(transform(sequence(lit(1), size(col("__seq")) - (w - 1)),
            j => array_min(slice(col("__seq"), j, lit(w)))))).otherwise(emptyFps)
          .as("fps"))
  }

  /** Cross-document winnowing matches: pairs sharing at least
    * `minShared` fingerprints, with the shared count. The fingerprint
    * equi-join is the production shape (fingerprints act as exact
    * buckets — the same posture as the LSH band join, but with the
    * winnowing locality guarantee instead of a probabilistic S-curve);
    * bucket sizes are the only quadratic term. `maxDocFreq` > 0
    * frequency-caps hot fingerprints BEFORE the self-join (a
    * fingerprint in more than `maxDocFreq` documents is boilerplate —
    * licenses, headers — and its bucket is quadratic in exactly the
    * pairs nobody wants): one hash aggregate over the posting list,
    * then a semi-join keeps only in-cap fingerprints — the standard
    * MOSS/LSH hot-bucket drop, here a first-class knob instead of an
    * upstream chore. 0 = uncapped (the bounded-corpus default).
    */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 5, minShared: Long = 2L,
                  maxDocFreq: Long = 0L,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp0 = winnowFingerprints(docs, k, w, idCol, textCol)
      .select(col("id"), explode(col("fps")).as("fp"))
    val fp =
      if (maxDocFreq <= 0L) fp0
      else {
        // fps are distinct per doc, so count(*) per fp IS its doc freq.
        val inCap = fp0.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select(col("fp"))
        fp0.join(inCap, Seq("fp"), "left_semi")
      }
    val a = fp.as("a"); val b = fp.as("b")
    a.join(b, col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
  }

  /** 32-bit SimHash over token hashes: bit i of the fingerprint is the
    * sign of sum over tokens of (2*bit_i(token_hash) - 1). Portable
    * integer arithmetic throughout (token hash mod 2^32).
    */
  /** Token hashes for SimHash: mod 2^32, multiplier 131. */
  def simhashTokenHashes(text: Column): Column =
    transform(toks(text), t =>
      graft.functions.PolyHashFunctions.polyHash(t, 131L, 4294967296L))

  /** SimHash fingerprint from a materialized token-hash column (the 32
    * bit-sums each walk the array; keep `th` an attribute, not an
    * inlined expression — see shingleHashes note).
    */
  def simhash32FromTokenHashes(th: Column): Column =
    (0 until 32).foldLeft(lit(0L): Column) { (fp, i) =>
      val bitSum = aggregate(th, lit(0L), (acc, h) =>
        acc + shiftright(h, i).bitwiseAND(1L) * 2L - 1L)
      fp + when(bitSum >= 0, lit(1L << i)).otherwise(lit(0L))
    }

  def simhash32(text: Column): Column = simhash32FromTokenHashes(simhashTokenHashes(text))

  /** Staged per-document SimHash projection. */
  def withSimhash(docs: DataFrame, textCol: String = "text",
                  out: String = "simhash32"): DataFrame =
    docs.withColumn("__th", simhashTokenHashes(col(textCol)))
      .withColumn(out, simhash32FromTokenHashes(col("__th")))
      .drop("__th")

  /** Per-doc tokenization staged for window extraction: raw tokens,
    * token count, and the k-window count (0 for short docs).
    */
  private def windowBase(docs: DataFrame, k: Int, idCol: String,
                         textCol: String): DataFrame =
    docs
      // Barrier-staged tokens (see withShingles): the `__n >= k`
      // filter consumers apply otherwise pushes below with the
      // tokenize inlined — 2× per row.
      .select(col(idCol),
        graft.functions.StageBarrier(TextAnalysis.tokens(col(textCol))).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("n_windows", greatest(col("__n") - (k - 1), lit(0)).cast("long"))

  /** Distinct k-token windows per document, identified by the md5 of
    * the raw space-joined slice (128 bits — "same hash" IS "same
    * substring" at any realistic corpus size).
    */
  private def distinctWindows(base: DataFrame, k: Int, idCol: String): DataFrame =
    base.filter(col("__n") >= k)
      .select(col(idCol), col("__toks"), explode(sequence(lit(0), col("__n") - k)).as("__s"))
      .select(col(idCol),
        md5(array_join(slice(col("__toks"), col("__s") + 1, lit(k)), " ")
          .cast("binary")).as("wh"))
      .distinct()

  /** D12 — substring-level duplication stats (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * granularity): for every document, how many of its k-token
    * windows also occur in at least one OTHER document. Catches the
    * boilerplate/quotation duplication that document-level MinHash
    * misses — two long documents sharing one paragraph Jaccard ≈ 0,
    * yet that paragraph is exactly what substring dedup must find.
    *
    * Windows are identified by the md5 of the raw (case-preserving,
    * un-normalized) space-joined k-token slice — 128 bits, so "same
    * hash" IS "same substring" for any realistic corpus, unlike the
    * 30-bit polynomial shingle space which is fine for candidate
    * generation but would birthday-collide as ground truth at corpus
    * scale. Intra-document repetition is deliberately NOT counted as
    * duplication here (repetitionStats owns that signal): windows are
    * de-duplicated per document before the cross-document count.
    *
    * Shape at scale: explode is O(tokens) rows; the per-(doc, window)
    * distinct, the window-frequency aggregate, the equi-join back,
    * and the per-doc roll-up are all hash shuffles keyed by window
    * hash or doc id — aggregates run BEFORE the join, so nothing
    * quadratic and nothing driver-side anywhere. The frequency table
    * a window joins against is itself aggregated (one row per
    * distinct window), so skew is bounded by the most-duplicated
    * window's doc count, which AQE's skew-join handles.
    */
  def substringDupStats(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val base = windowBase(docs, k, idCol, textCol)
    val wins = distinctWindows(base, k, idCol)
    // Window frequency in documents (aggregated before the join).
    val freq = wins.groupBy(col("wh")).agg(count(lit(1)).as("__ndocs"))
    val perDoc = wins.join(freq, "wh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nd"),
        sum(when(col("__ndocs") > 1, 1L).otherwise(0L)).as("__ns"))
    base.select(col(idCol), col("n_windows"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("__nd"), lit(0L)).as("n_distinct_windows"),
        coalesce(col("__ns"), lit(0L)).as("n_shared_windows"))
      .withColumn("shared_frac_e6",
        expr("CASE WHEN n_distinct_windows = 0 THEN 0L " +
          "ELSE n_shared_windows * 1000000L div n_distinct_windows END"))
  }

  /** D20 — maximal duplicated spans (the actionable complement to
    * [[substringDupStats]]): D12 says HOW MUCH of a document is
    * cross-document duplicated; this says WHERE — each row is one
    * maximal run of consecutive shared k-token windows, i.e. one
    * contiguous duplicated passage [span_start, span_start +
    * span_tokens) in the document's token stream. This is the frame a
    * training-data pipeline actually cuts on (Lee et al. remove the
    * duplicated SUBSTRING, not the document).
    *
    * A window is "shared" exactly as in D12: its raw-token md5 occurs
    * in ≥ 2 distinct documents (intra-doc repetition alone does not
    * count). Consecutive shared positions merge via the classic
    * gaps-and-islands s − row_number() key; a run of m windows covers
    * m + k − 1 tokens.
    *
    * Shape at scale: the same explode → window-frequency aggregate →
    * equi-join skeleton as D12 (skew bounded by the hottest window's
    * doc count — AQE skew-join, measured in ScaleBench's
    * d12_skew_check), plus one per-document window over that
    * document's OWN positions (partitioned by doc id, never global).
    */
  def dupSpans(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val base = windowBase(docs, k, idCol, textCol)
    val pos = base.filter(col("__n") >= k)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), col("__n") - k)).as("s"))
      .select(col(idCol), col("s"),
        md5(array_join(slice(col("__toks"), col("s") + 1, lit(k)), " ")
          .cast("binary")).as("wh"))
    val freq = pos.select(col(idCol), col("wh")).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("__ndocs"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"))
    pos.join(freq, "wh").filter(col("__ndocs") > 1)
      .withColumn("__grp", col("s") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("s")).cast("long").as("span_start"),
        count(lit(1)).as("span_windows"))
      .select(col(idCol), col("span_start"), col("span_windows"),
        (col("span_windows") + lit(k - 1).cast("long")).as("span_tokens"))
  }

  /** D13 — window-level benchmark decontamination: for every corpus
    * document, how many of its k-token windows appear verbatim in the
    * benchmark/eval slice — the n-gram-window overlap recipe
    * production LLM pipelines actually run (d8's shingle form counts
    * 3-gram hash overlap in a 30-bit space; this one is exact: md5
    * window identity, so a hit IS a verbatim k-token substring match).
    * Emits (doc, n_windows, n_contaminated_windows, contam_frac_e6)
    * for contaminated documents only — absent means clean, like d8.
    *
    * Same broadcast shape as d8: the benchmark's distinct window set
    * is eval-suite-sized (MBs) however big the corpus is, so the
    * corpus side is one scan + broadcast hash join — it never
    * shuffles; only matched rows (bounded by contamination volume)
    * shuffle for the per-doc count.
    */
  def windowDecontamination(docs: DataFrame, benchPred: Column, k: Int = 8,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val base = windowBase(docs.filter(!benchPred), k, idCol, textCol)
    // n_windows rides through the window explode as a group constant
    // (r17 optimization round): the output only contains docs with at
    // least one contaminated window (the old stats join was INNER), so
    // attaching n_windows via a second full windowBase pass over the
    // corpus — tokenize + explode, just to read one per-doc count —
    // doubled the corpus scans (plans/r17/d13_window_decontam_before
    // .txt: two tokenize subtrees over the corpus slice). Carrying the
    // per-doc constant through the distinct (same groups — it is
    // functionally dependent on the doc id) and reading it back with
    // max() in the contamination aggregate leaves ONE corpus pass and
    // drops the broadcast stats join outright (..._after.txt).
    val corpusWins = base.filter(col("__n") >= k)
      .select(col(idCol), col("n_windows"), col("__toks"),
        explode(sequence(lit(0), col("__n") - k)).as("__s"))
      .select(col(idCol), col("n_windows"),
        md5(array_join(slice(col("__toks"), col("__s") + 1, lit(k)), " ")
          .cast("binary")).as("wh"))
      .distinct()
    val benchWins = distinctWindows(
      windowBase(docs.filter(benchPred), k, idCol, textCol), k, idCol)
      .select(col("wh")).distinct()
    corpusWins.join(broadcast(benchWins), "wh")
      .groupBy(col(idCol))
      .agg(max(col("n_windows")).as("n_windows"),
        count(lit(1)).as("n_contaminated_windows"))
      .select(col(idCol), col("n_windows"), col("n_contaminated_windows"))
      .withColumn("contam_frac_e6",
        expr("n_contaminated_windows * 1000000L div n_windows"))
  }

  /** D8 — benchmark decontamination: for every corpus document, the
    * count of distinct word n-gram shingles it shares with a
    * benchmark/eval set, and how many benchmark documents it touches.
    * Documents with no overlap are absent (clean).
    *
    * Shape at scale: the benchmark side is tiny by construction (eval
    * suites are MBs even when the corpus is 100 TB), so its exploded
    * shingle set is BROADCAST — the corpus is a single scan + broadcast
    * hash join, never shuffled on the shingle key; only matched rows
    * (bounded by contamination volume) shuffle for the per-doc count.
    */
  def decontaminationOverlap(docs: DataFrame, benchPred: Column,
                             idCol: String = "doc_id", textCol: String = "text",
                             n: Int = 3): DataFrame = {
    val bench = withShingles(docs.filter(benchPred).select(col(idCol).as("bench_id"), col(textCol)),
        textCol, n)
      .select(col("bench_id"), explode(col("sh")).as("h"))
    val corpus = withShingles(docs.filter(!benchPred).select(col(idCol), col(textCol)),
        textCol, n)
      .select(col(idCol), explode(col("sh")).as("h"))
    corpus.join(broadcast(bench), Seq("h"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("h")).as("n_overlap"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** D10 — decontamination with a Bloom-filter prefilter: the same
    * answer as [[decontaminationOverlap]], reached by probing a bitset
    * before any join. The bench side's shingle hashes are folded into
    * an m-bit Bloom filter DISTRIBUTIVELY (k double-hashed positions →
    * explode → bit_or per 64-bit word), and only the resulting dense
    * word array — m/8 bytes, KBs even for large eval suites — is
    * collected and embedded as a plan literal (same posture as the IVF
    * quantizer: a bounded sketch on the driver, never data).
    *
    * The corpus probe is pure codegen'd integer arithmetic
    * (element_at + shiftright on the literal array): each corpus
    * shingle pays k O(1) bit tests instead of a hash-join lookup
    * against the full bench set, and the exact broadcast join that
    * removes Bloom false positives only ever sees the surviving
    * sliver (contamination volume + FP rate), not the corpus. That is
    * the standard semi-join reduction that keeps the shuffle-side
    * input proportional to matches at 100 TB.
    *
    * Bit positions use portable double hashing
    * (pos_j = h1 + j·h2 mod m, both hashes mod 1e9+7), so the filter
    * is deterministic across engines and partitionings.
    */
  def decontaminationOverlapBloom(docs: DataFrame, benchPred: Column,
                                  idCol: String = "doc_id", textCol: String = "text",
                                  n: Int = 3, mBits: Int = 1 << 20,
                                  kProbes: Int = 4): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, s"mBits must be a positive multiple of 64, got $mBits")
    require(kProbes > 0, s"kProbes must be positive, got $kProbes — a zero-probe " +
      "filter would match nothing, silently inverting the FP-only contract")
    // The bench side is bounded by construction (an eval suite); the
    // bitset build and the verify join each derive it from the plan —
    // recomputing the small scan twice beats pinning an eager
    // checkpoint in executor storage for the session lifetime (the
    // returned plan would keep it referenced forever).
    val bench = withShingles(docs.filter(benchPred).select(col(idCol).as("bench_id"), col(textCol)),
        textCol, n)
      .select(col("bench_id"), explode(col("sh")).as("h"))
    // Distributed bitset build: sparse (word -> bits) via bit_or, then
    // densify the KB-sized result on the driver.
    val posCols = bloomPositions(col("h"), mBits, kProbes)
    val sparse = bench.select(explode(array(posCols: _*)).as("pos"))
      .select(expr("CAST(pos DIV 64 AS INT)").as("word"),
        expr("shiftleft(1L, CAST(pos % 64 AS INT))").as("bit"))
      .groupBy(col("word")).agg(expr("bit_or(bit)").as("bits"))
    val words = new Array[Long](mBits / 64)
    sparse.collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    // Probe: the bitset stays a plain inline Literal inside element_at
    // — a literal referenced by an expression is evaluated by
    // reference, whereas projecting it as a column would copy the
    // whole m/8-byte array into every row's UnsafeRow (measured 3x on
    // the d10 bench). The k bit tests are ordinary codegen'd integer
    // arithmetic built with call_function for the variable-shift ops
    // the DSL lacks.
    val bf = typedLit(words)
    def probe(h1: Column, h2: Column, j: Int): Column = {
      val pos = pmod(h1 + lit(j.toLong) * h2, lit(mBits.toLong))
      val word = shiftright(pos, 6).cast("int")
      val bit = pmod(pos, lit(64L)).cast("int")
      call_function("shiftright", element_at(bf, word + 1), bit)
        .bitwiseAND(lit(1L)) === 1L
    }
    val h1 = pmod(col("h") * 2654435761L + 17L, lit(P))
    val h2 = pmod(col("h") * 40503L + 2147483647L, lit(P)).bitwiseOR(lit(1L))
    val corpus = withShingles(docs.filter(!benchPred).select(col(idCol), col(textCol)),
        textCol, n)
      .select(col(idCol), explode(col("sh")).as("h"))
    corpus.filter((0 until kProbes).map(probe(h1, h2, _)).reduce(_ && _))
      .join(broadcast(bench), Seq("h")) // exact: removes Bloom false positives
      .groupBy(col(idCol))
      .agg(countDistinct(col("h")).as("n_overlap"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** The k Bloom bit positions of a shingle hash (build side). */
  private def bloomPositions(h: Column, mBits: Int, kProbes: Int): Seq[Column] = {
    val h1 = pmod(h * 2654435761L + 17L, lit(P))
    val h2 = pmod(h * 40503L + 2147483647L, lit(P)).bitwiseOR(lit(1L))
    (0 until kProbes).map(j => pmod(h1 + lit(j.toLong) * h2, lit(mBits.toLong)))
  }

  /** Exact dedup stats per group: total docs, distinct normalized
    * contents, and surviving representative count (min id per
    * fingerprint) — the hash-groupBy exact dedup.
    */
  def exactDedupStats(docs: DataFrame, groupCol: String,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(groupCol), col(idCol),
        TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"))

  /** Exact dedup: keep the lowest id per normalized fingerprint. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val fp = docs.withColumn("fp", TextAnalysis.fingerprintMd5(col(textCol)))
    val keep = fp.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    fp.join(keep, Seq("fp", idCol), "left_semi").drop("fp")
  }

  /** Full near-dedup pipeline: MinHash+LSH candidate generation ->
    * exact n-gram Jaccard verification on candidate pairs only ->
    * greedy survivor rule (drop any doc with a verified near-duplicate
    * of lower id). This is the composition a 100 TB dedup actually
    * runs: the quadratic verify stage touches only same-bucket pairs.
    * Returns the surviving documents.
    */
  def nearDedup(docs: DataFrame, minJaccardE6: Long,
                idCol: String = "doc_id", textCol: String = "text",
                shingleN: Int = 3, k: Int = 16, bands: Int = 8): DataFrame = {
    val verified = verifiedPairs(docs, minJaccardE6, idCol, textCol, shingleN, k, bands)
    val dropIds = verified.select(col("doc_b").as(idCol)).distinct()
    docs.join(dropIds, Seq(idCol), "left_anti")
  }

  /** The candidate-then-verify stage of [[nearDedup]] exposed as an
    * edge list: (doc_a, doc_b) with doc_a < doc_b and exact n-gram
    * Jaccard >= minJaccardE6, candidates drawn from LSH buckets only.
    * Feed to [[GraphOps.connectedComponents]] for cluster assignment.
    */
  def verifiedPairs(docs: DataFrame, minJaccardE6: Long,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleN: Int = 3, k: Int = 16, bands: Int = 8): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, shingleN, k, bands)
    val sh = withShingles(docs.select(col(idCol).as("id"), col(textCol)), textCol, shingleN)
      .select(col("id"), array_sort(col("sh")).as("sh"))
    cands
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter", graft.functions.ArrayFunctions.sortedIntersectSize(col("sha"), col("shb")))
      .withColumn("uni", size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter"))
      // floor(1e6*inter/uni) >= tau  <=>  1e6*inter >= tau*uni (integer tau)
      .filter(col("uni") > 0 && col("inter") * 1000000L >= col("uni") * minJaccardE6)
      .select(col("doc_a"), col("doc_b"))
  }

  /** D14 — asymmetric near-dup via Jaccard CONTAINMENT over LSH
    * candidate pairs: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|. Symmetric
    * Jaccard dilutes with |B| and misses "A is (mostly) inside B" —
    * truncated copies, quoted passages, boilerplate-expanded
    * rewrites — the dup class a training-data pipeline prunes to stop
    * a document leaking twice at different lengths. Emits both
    * directions in exact e6 integers (all operands non-negative, so
    * truncating and flooring division agree across engines) for every
    * candidate pair whose larger direction clears `minContainE6`.
    *
    * Scale shape: identical to [[verifiedPairs]] — candidates come
    * from the banded MinHash buckets (never all-pairs), the exact
    * intersection is a codegen'd merge walk over the pre-sorted
    * shingle sets, and everything shuffles on doc ids. Note the LSH
    * recall floor is Jaccard-driven: a tiny A inside a huge B has
    * high containment but low Jaccard, so band collisions fade as
    * |B|/|A| grows — callers hunting extreme-ratio containment should
    * widen `bands` (the standard recall dial) rather than trust the
    * defaults.
    */
  def containmentPairs(docs: DataFrame, minContainE6: Long,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3, k: Int = 16, bands: Int = 8): DataFrame = {
    val cands = minhashCandidates(docs, idCol, textCol, shingleN, k, bands)
    val sh = withShingles(docs.select(col(idCol).as("id"), col(textCol)), textCol, shingleN)
      .select(col("id"), array_sort(col("sh")).as("sh"))
    cands
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ArrayFunctions.sortedIntersectSize(col("sha"), col("shb")).as("n_common"),
        size(col("sha")).cast("long").as("n_a"),
        size(col("shb")).cast("long").as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("contain_ab_e6", expr("n_common * 1000000L div n_a"))
      .withColumn("contain_ba_e6", expr("n_common * 1000000L div n_b"))
      .filter(greatest(col("contain_ab_e6"), col("contain_ba_e6")) >= minContainE6)
  }

  /** D16 — incremental (batch-vs-corpus) dedup: the admission
    * decision a continuously-growing training corpus runs on every
    * new crawl slice. Each batch document gets a verdict:
    * `exact_dup` (normalized-md5 fingerprint already in the corpus),
    * `near_dup` (a verified n-gram-Jaccard near-duplicate of some
    * corpus document), or `new`. The matched corpus doc rides along
    * (`exact_dup_of` / `near_dup_of` = lowest matching corpus id,
    * `near_j_e6` = the highest verified similarity) so the caller
    * can audit or link instead of drop.
    *
    * Scale shape — the point of the operator: the corpus NEVER
    * self-joins and never re-processes. The exact stage joins batch
    * fingerprints against the corpus fingerprint set (per-fp min id —
    * in steady state a precomputed, bucketed table the batch probes);
    * the near stage LSH-bands BOTH sides but only joins batch buckets
    * against corpus buckets, so candidate count scales with the
    * batch, not the corpus, and the quadratic verify touches only
    * same-bucket cross pairs. Per-increment cost is O(|batch|) work
    * plus hash-joins against corpus-side indexes that an incremental
    * deployment materializes once and appends to.
    */
  /** Precomputed corpus side of [[incrementalDedupAgainst]]: the
    * exact-fingerprint set (`fp` → min corpus id), the shingle/
    * signature frame, and its banded LSH keys. An incremental
    * deployment builds this ONCE per corpus version — persisted
    * (`persist()`) or materialized as bucketed tables — and every
    * admitted batch probes the same index, so per-batch cost never
    * re-reads or re-hashes corpus text. `ScaleBench`'s d16 corpus
    * sweep does exactly this: one index per corpus, one probe per batch.
    */
  case class CorpusIndex(fp: DataFrame, sigs: DataFrame, banded: DataFrame) {
    def persist(): CorpusIndex = { fp.persist(); sigs.persist(); banded.persist(); this }
    def unpersist(): Unit = { fp.unpersist(); sigs.unpersist(); banded.unpersist(); () }
  }

  /** Shingle + minhash-signature frame over eligible docs (short docs
    * can't near-match and would share the sentinel signature — same
    * eligibility discipline as minhashCandidates).
    */
  private def admissionSigFrame(df: DataFrame, shingleN: Int, k: Int): DataFrame = {
    val eligible = df.filter(size(TextAnalysis.tokens(col("text"))) >= shingleN)
    withShingles(eligible, "text", shingleN)
      .select(col("id"), array_sort(col("sh")).as("sh"),
        minhashSignature(col("sh"), k).as("sig"))
  }

  private def admissionBanded(df: DataFrame, bands: Int, rows: Int): DataFrame = df
    .select(col("id"), posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band", "key")))
    .select(col("id"), col("band"), col("key"))

  /** Build the corpus-side index for incremental admission. */
  def corpusIndex(corpus: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  shingleN: Int = 3, k: Int = 16, bands: Int = 8): CorpusIndex = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands")
    val c = corpus.select(col(idCol).as("id"), col(textCol).as("text"))
    // Exact stage: corpus fingerprints collapse to (fp, min id) —
    // the probe side is only the batch.
    val cFp = c.select(col("id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("id")).as("exact_dup_of"))
    val cs = admissionSigFrame(c, shingleN, k)
    CorpusIndex(cFp, cs, admissionBanded(cs, bands, k / bands))
  }

  /** LSH candidate pairs of a batch signature frame against the
    * corpus index: (batch_id, corpus_id), distinct. Public so
    * ScaleBench can measure the operator's central scale property
    * directly — candidate count tracks the BATCH, not the corpus
    * (a k× corpus whose content is disjoint from the batch adds ~0
    * candidates, because banding only pairs equal band keys).
    */
  private[graft] def admissionCandidates(batchSigs: DataFrame, index: CorpusIndex,
                                         bands: Int, rows: Int): DataFrame =
    admissionBanded(batchSigs, bands, rows).as("a")
      .join(index.banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("batch_id"), col("b.id").as("corpus_id"))
      .distinct()

  /** Batch-side signature frame for [[admissionCandidates]]. */
  private[graft] def admissionSigs(batch: DataFrame,
                                   idCol: String = "doc_id", textCol: String = "text",
                                   shingleN: Int = 3, k: Int = 16): DataFrame =
    admissionSigFrame(
      batch.select(col(idCol).as("id"), col(textCol).as("text")), shingleN, k)

  /** D16 probe stage: classify one batch against a prebuilt
    * [[CorpusIndex]]. Same semantics as [[incrementalDedup]]; split
    * out so a streaming admission pipeline amortizes the corpus side
    * across micro-batches.
    */
  def incrementalDedupAgainst(batch: DataFrame, index: CorpusIndex, minJaccardE6: Long,
                              idCol: String = "doc_id", textCol: String = "text",
                              shingleN: Int = 3, k: Int = 16, bands: Int = 8): DataFrame = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands")
    val rows = k / bands
    val b = batch.select(col(idCol).as("id"), col(textCol).as("text"))
    val cFp = index.fp
    val bFp = b.select(col("id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
    // Near stage: banded batch joins banded corpus — no self-join on
    // either side, so candidates scale with the batch.
    val bs = admissionSigFrame(b, shingleN, k)
    val cs = index.sigs
    val cand = admissionCandidates(bs, index, bands, rows)
    val near = cand
      .join(bs.select(col("id").as("batch_id"), col("sh").as("sha")), "batch_id")
      .join(cs.select(col("id").as("corpus_id"), col("sh").as("shb")), "corpus_id")
      .withColumn("inter",
        graft.functions.ArrayFunctions.sortedIntersectSize(col("sha"), col("shb")))
      .withColumn("uni",
        size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter"))
      .filter(col("uni") > 0)
      .withColumn("j_e6", expr("inter * 1000000L div uni"))
      .filter(col("j_e6") >= minJaccardE6)
      .groupBy(col("batch_id"))
      .agg(min(col("corpus_id")).as("near_dup_of"), max(col("j_e6")).as("near_j_e6"))
    bFp.join(cFp, Seq("fp"), "left")
      .join(near, col("id") === col("batch_id"), "left")
      .select(col("id").as(idCol),
        when(col("exact_dup_of").isNotNull, lit("exact_dup"))
          .when(col("near_dup_of").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        col("exact_dup_of"), col("near_dup_of"), col("near_j_e6"))
  }

  /** One-shot form: build the corpus index and probe in a single
    * call (the d16 oracle query's shape). Streaming admission uses
    * [[corpusIndex]] + [[incrementalDedupAgainst]] instead so the
    * corpus side is computed once, not per micro-batch.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, minJaccardE6: Long,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3, k: Int = 16, bands: Int = 8): DataFrame =
    incrementalDedupAgainst(batch,
      corpusIndex(corpus, idCol, textCol, shingleN, k, bands),
      minJaccardE6, idCol, textCol, shingleN, k, bands)

  /** Near-dup cluster assignment: LSH-verified pairs resolved into
    * transitive clusters. Returns (doc_id, cluster_id, cluster_size)
    * for every document with at least one verified near-duplicate;
    * cluster_id is the minimum doc id of the component — the canonical
    * representative a keep-one-per-cluster policy retains.
    */
  def dupClusters(docs: DataFrame, minJaccardE6: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  shingleN: Int = 3, k: Int = 16, bands: Int = 8): DataFrame = {
    val pairs = verifiedPairs(docs, minJaccardE6, idCol, textCol, shingleN, k, bands)
    val cc = GraphOps.connectedComponents(pairs, "doc_a", "doc_b")
    val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "component")
      .select(col("id").as(idCol), col("component").as("cluster_id"),
        col("cluster_size"))
  }

  /** D15 — quality-aware canonical selection: near-dup clusters with
    * the SURVIVOR chosen by quality, not by id. Production curation
    * keeps the best member of each duplicate family — the longest /
    * least-truncated variant — where a min-id rule keeps whichever
    * copy happened to be crawled first. Quality here is the exact
    * token count (the same house tokenizer every text operator uses,
    * so the rule is portable and deterministic), tie-broken by id.
    * Emits every clustered doc with its cluster, size, quality and a
    * `kept` flag; singletons are trivially kept and omitted, like
    * [[dupClusters]].
    *
    * Shape at scale: verifiedPairs + connectedComponents as d9/d11;
    * the ranking window partitions by cluster_id — cluster-sized
    * groups, never a global window.
    */
  def keepBestPerCluster(docs: DataFrame, minJaccardE6: Long,
                         idCol: String = "doc_id", textCol: String = "text",
                         shingleN: Int = 3, k: Int = 16, bands: Int = 8): DataFrame = {
    val cc = GraphOps.connectedComponents(
      verifiedPairs(docs, minJaccardE6, idCol, textCol, shingleN, k, bands),
      "doc_a", "doc_b")
    // Quality stays a FULL-corpus scan-side projection deliberately
    // (r18: measured the "tokenize only clustered docs" semi-join
    // alternative and rejected it — Catalyst pushes the LeftSemi
    // through the corpus union as per-branch SortMergeJoins, so the
    // corpus TEXT gets exchanged by id before tokenizing, while this
    // form shuffles only narrow (id, n_tokens) rows into the cc join;
    // broadcasting the cc side instead would put an unbounded
    // cluster-count cap on driver memory).
    val quality = docs.select(col(idCol).as("id"),
      size(tokenHashes(col(textCol))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("id"))
    cc.join(quality, "id")
      .select(col("id"), col("component").as("cluster_id"), col("n_tokens"))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("id").as(idCol), col("cluster_id"), col("cluster_size"),
        col("n_tokens"), col("kept"))
  }

  /** Transitive-correct near-dedup: connected components over the
    * verified pair graph, keeping each cluster's minimum id (and every
    * singleton). Where [[nearDedup]]'s pairwise survivor rule only
    * names pairs, this names the CLUSTER: chains a~b, b~c resolve to
    * one canonical representative even when a~c was never emitted, and
    * the kept id is the component minimum rather than an artifact of
    * pair iteration order.
    */
  def nearDedupCC(docs: DataFrame, minJaccardE6: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  shingleN: Int = 3, k: Int = 16, bands: Int = 8): DataFrame = {
    val cc = GraphOps.connectedComponents(
      verifiedPairs(docs, minJaccardE6, idCol, textCol, shingleN, k, bands),
      "doc_a", "doc_b")
    val drop = cc.filter(col("id") =!= col("component")).select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicates, all-pairs baseline: pairs with cosine
    * >= minCos over a BOUNDED vector set. O(n²) by design — guarded,
    * test/verification use only; the scale path is
    * [[embeddingDupPairsLsh]].
    */
  def embeddingDupPairs(vecs: DataFrame, minCos: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        maxRows: Long = 100000L): DataFrame = {
    // Guard FIRST on a cheap column-pruned count — an oversized corpus
    // must fail before anything is materialized — then checkpoint the
    // (now known bounded) projection once so both self-join sides read
    // it instead of re-running the upstream plan.
    val projected = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val n = projected.count()
    require(n <= maxRows,
      s"embeddingDupPairs is an all-pairs baseline for bounded sets; got $n rows " +
        s"(max $maxRows). Use embeddingDupPairsLsh at corpus scale.")
    val v = projected.localCheckpoint(true)
    val a = v.as("a"); val b = v.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        round(Similarity.cosine(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Embedding near-duplicates at scale: multi-table sign-LSH bucket
    * prefilter → exact cosine verification on same-bucket pairs only.
    * Same (vec_a, vec_b, cos_sim) contract as the all-pairs baseline,
    * but the self-join is an equi-join on (table, bucket) — a shuffled
    * hash join whose quadratic term is confined to bucket-sized
    * groups, never a nested loop over the corpus.
    *
    * Candidate generation carries only (id, table, bucket); vectors
    * join back for the verify stage, so the exploded shuffle is
    * tables×16 bytes per row, not tables×dim×4. Recall: a pair at
    * cosine c collides in one table with prob (1 - acos(c)/π)^planes;
    * `tables` independent tables lift it to 1-(1-r)^T. At a near-dup
    * threshold (c ≥ 0.9) the defaults put the miss probability per
    * pair below 1e-10; for weakly-similar thresholds (c ≤ 0.5) use
    * the guarded all-pairs baseline — no LSH family separates
    * near-orthogonal pairs.
    */
  def embeddingDupPairsLsh(vecs: DataFrame, minCos: Double, dim: Int,
                           planes: Int = 8, tables: Int = 12,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val keyed = v.select(col("id"),
      posexplode(graft.functions.LshFunctions.signLshKeys(col("v"), planes, tables, dim))
        .as(Seq("tbl", "bkt")))
    val a = keyed.as("a"); val b = keyed.as("b")
    val cands = a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
      .distinct()
    cands
      .join(v.select(col("id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(v.select(col("id").as("vec_b"), col("v").as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** D18 — SEMANTIC benchmark decontamination: flag corpus documents
    * whose embedding is near-identical (cosine ≥ minCos) to any eval-
    * set embedding — the paraphrase-robust complement of the n-gram
    * recipes (d8/d10/d13 catch verbatim overlap; a reworded eval
    * question slips past all of them but not past its embedding).
    *
    * Shape at scale — the d6 sign-LSH route, made CROSS-corpus: the
    * eval side is a benchmark suite (thousands of rows, ≪ corpus), so
    * its LSH keys AND vectors broadcast; the corpus streams by in one
    * pass per join, candidates are (corpus×eval) bucket collisions
    * only, and the exact cosine verify touches candidates, never the
    * corpus². Aggregation to per-corpus-doc verdicts uses only exact
    * aggregates (count / min id / max of the 6-dp score) — no argmax
    * tie-break to go nondeterministic on.
    */
  def semanticDecontam(corpus: DataFrame, evalSet: DataFrame, minCos: Double,
                       dim: Int, planes: Int = 8, tables: Int = 12,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val e = evalSet.select(col(idCol).as("eid"), col(vecCol).as("ev"))
    val ck = c.select(col("cid"),
      posexplode(graft.functions.LshFunctions.signLshKeys(col("cv"), planes, tables, dim))
        .as(Seq("tbl", "bkt")))
    val ek = e.select(col("eid"),
      posexplode(graft.functions.LshFunctions.signLshKeys(col("ev"), planes, tables, dim))
        .as(Seq("tbl", "bkt")))
    val cands = ck.join(broadcast(ek), Seq("tbl", "bkt"))
      .select(col("cid"), col("eid")).distinct()
    cands
      .join(c, "cid")
      .join(broadcast(e), "eid")
      .select(col("cid"), col("eid"),
        round(Similarity.cosine(col("cv"), col("ev")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("eid")).as("min_eval_id"),
        max(col("cos_sim")).as("max_cos"))
      .select(col("cid").as("corpus_id"), col("n_matches"),
        col("min_eval_id"), col("max_cos"))
  }

  /** D23 — asymmetric CONTAINMENT dedup: find (fragment, container)
    * pairs where c(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| is high even
    * though Jaccard is low — the near-superset family (a doc embedded
    * inside a larger one: quoted articles, boilerplate-wrapped
    * bodies) that Jaccard-targeted MinHash LSH STRUCTURALLY misses:
    * band collision probability tracks J = |∩|/|∪|, which a large
    * container drives toward 0 however complete the containment.
    * This is exactly [[containmentPairs]] (d14)'s recall gap — d14
    * scores containment but draws its CANDIDATES from minhash
    * banding, so the asymmetric pairs it was built for arrive only
    * when Jaccard happens to be high too.
    *
    * Candidate generation is therefore NOT minhash banding but a
    * rare-shingle posting join: each doc's `rareK` globally rarest
    * shingles (rarity = document frequency over the corpus, capped at
    * `maxDf` — a df-capped posting list, the winnowing hot-bucket
    * posture) probe the posting index; any doc truly containing `a`
    * shares ALL of a's shingles, its rare ones included, so full
    * containment is always surfaced. Partial containment below 100%
    * can hide if every rare shingle falls in the missing fraction —
    * the documented recall trade, symmetric to LSH's S-curve.
    *
    * Scale: per-doc probe fan-out ≤ rareK · maxDf; the exact verify
    * join ships shingle arrays only for candidate pairs. Everything is
    * equi-join + hash agg; no all-pairs stage anywhere.
    */
  /** The candidate stage of [[rareShingleContainment]], exposed so the
    * d24 recall harness can grade THE PRODUCTION probe (d21's
    * discipline): input is the (doc_id, sh) shingle frame, output the
    * raw (a, b) candidate pairs before any containment verify.
    */
  def rareShingleCandidates(sh: DataFrame, rareK: Int = 5,
                            maxDf: Long = 64L): DataFrame = {
    val posting = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    // df ≥ 2: a unique shingle can never witness a pair; df ≤ maxDf
    // bounds the probe fan-out (boilerplate shingles are useless as
    // rarity witnesses anyway).
    val dfTab = posting.groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val wr = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val rare = posting.join(dfTab, "s")
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= rareK)
      .select(col("doc_id").as("a"), col("s"))
    rare.join(posting.select(col("doc_id").as("b"), col("s")), "s")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
  }

  def rareShingleContainment(docs: DataFrame, shingleN: Int = 3, rareK: Int = 5,
                             maxDf: Long = 64L, minContainE6: Long = 800000L): DataFrame = {
    val sh = withShingles(docs.select(col("doc_id"), col("text")), "text", shingleN)
      .select(col("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)
    val cands = rareShingleCandidates(sh, rareK, maxDf)
    cands
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("cont_e6", expr("inter * 1000000 div size(sh_a)"))
      .withColumn("jaccard_e6",
        expr("inter * 1000000 div (size(sh_a) + size(sh_b) - inter)"))
      .filter(col("cont_e6") >= minContainE6)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("cont_e6"), col("jaccard_e6"))
  }
}
