package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, SemDedup}
import graft.sources.Tables

/** Lexical-retrieval and semantic-dedup queries over the documents /
  * embeddings tables, with generated DuckDB oracle SQL. Scores quantize
  * to integers before any aggregation (see [[graft.operators.Retrieval]]),
  * so even the ln()-based ones hash-match the oracle exactly.
  */
object RetrievalQueries {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** X26 — top-3 TF-IDF terms per document (first 100 docs). */
  def tfIdf(s: SparkSession, dir: String): DataFrame =
    Retrieval.tfIdfTopK(docs(s, dir).filter(col("doc_id") < 100), topK = 3)

  private val QueryTerms = Seq("spark", "join", "window")

  /** X27 — BM25 top-20 docs for a fixed three-term query. */
  def bm25(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(docs(s, dir), QueryTerms, topK = 20)

  /** X28 — capped inverted index over the whole corpus. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    Retrieval.invertedIndex(docs(s, dir), maxPostings = 15)

  private val TargetSources = Seq("src0", "src1", "src2", "src3", "src4")

  /** X29 — DSIR-style importance weights: target = the first five
    * sources, raw = the whole corpus.
    */
  def importance(s: SparkSession, dir: String): DataFrame =
    Retrieval.importanceWeights(docs(s, dir),
      col("source").isin(TargetSources: _*))

  /** X30 — document-level PMI over co-occurring term pairs. */
  def pmi(s: SparkSession, dir: String): DataFrame =
    Retrieval.pmiPairs(docs(s, dir), minPairCount = 25)

  /** X31 — CCNet-style unigram-LM quality: mean token logprob per doc,
    * bucketed head/middle/tail at corpus terciles.
    */
  def lmQuality(s: SparkSession, dir: String): DataFrame =
    Retrieval.unigramQualityBuckets(docs(s, dir))

  /** X40 — offline retrieval evaluation (recall@10 / MRR / nDCG@10).
    * Queries are derived deterministically from the corpus itself:
    * for each of the five target sources, the 5 terms with the
    * highest source-lift (share of the term's corpus occurrences that
    * fall in that source, e6-quantized; ties → higher source tf, then
    * term text), i.e. the terms most distinctive of that source. A
    * document is relevant to a query iff it belongs to the query's
    * source. All 5 queries run as ONE [[Retrieval.bm25MultiQuery]]
    * pass; the metric layer is [[Retrieval.rankingMetrics]] with the
    * shared literal discount table.
    */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val tfs = Retrieval.termFreqs(d)
    val ct = tfs.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val stf = d.filter(col("source").isin(TargetSources: _*))
      .select(col("doc_id"), col("source"))
      .join(tfs, "doc_id")
      .groupBy(col("source"), col("term")).agg(sum(col("tf")).as("stf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("lift_e6").desc, col("stf").desc, col("term"))
    val queries = stf.join(broadcast(ct), "term")
      .withColumn("lift_e6", expr("stf * 1000000L div ctf"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source").as("qid"), col("term"))
    val ranked = Retrieval.bm25MultiQuery(d, queries, topK = 10)
    val relevant = d.filter(col("source").isin(TargetSources: _*))
      .select(col("source").as("qid"), col("doc_id"))
    Retrieval.rankingMetrics(ranked, relevant, k = 10)
  }

  /** D17 — SemDeDup over a pinned 500-vector embedding slice plus
    * planted perturbed copies (d6's derivation: vec_id % 5 == 0 gets a
    * ±3% per-dim perturbed twin at id + 1e6). The slice is pinned so
    * n = 600 → k = ⌈600/64⌉ = 10 at EVERY scale factor, matching the
    * static oracle's unrolled Lloyd chain; the operator's dynamic-k
    * rule (cluster count grows with the corpus, keeping pairwise work
    * O(n·64)) is exercised by SemDedupSpec and documented in SCALE.md.
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val slice = embs(s, dir).filter(col("vec_id") < 500)
    val base = slice.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    // Perturb BEFORE renaming the id (see embeddingDups note in
    // PipelineQueries): with both in one select the lambda's
    // col("vec_id") resolves to the shifted alias.
    val copies = slice.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"),
        transform(col("embedding"), (x, d) =>
          x.cast("double") *
            (lit(1.0) + (pmod(col("vec_id") + d, lit(7)) - 3).cast("double") / 100.0))
          .as("embedding"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    SemDedup.dedup(base.unionByName(copies),
      targetClusterSize = 64, kMin = 8, iters = 3, minCos = 0.9)
  }

  // ---------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------

  private val toks = PipelineQueries.toksSql

  /** (doc_id [, extra cols], dl, term, tf) over `srcSql`, the SQL twin
    * of Retrieval.termFreqs.
    */
  private def tfSql(srcSql: String, extra: String = ""): String = {
    val ex = if (extra.isEmpty) "" else s"$extra, "
    s"""tf AS (
    SELECT doc_id, ${ex}dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, ${ex}CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
          FROM ($srcSql))
    GROUP BY doc_id, ${ex}dl, term
  ), df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term)"""
  }

  val tfIdfSql: String = s"""
    WITH d AS (SELECT doc_id, $toks AS toks FROM documents WHERE doc_id < 100),
    ${tfSql("SELECT doc_id, toks FROM d")},
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d),
    scored AS (
      SELECT doc_id, term, tf, df,
             CAST(floor(CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)
                        * ln(n.n / CAST(df AS DOUBLE)) * 1000000.0) AS BIGINT) AS tfidf_e6
      FROM tf JOIN df USING (term), n)
    SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, tfidf_e6 FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY tfidf_e6 DESC, term) AS rank
      FROM scored)
    WHERE rank <= 3"""

  val bm25Sql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""
    WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
    ${tfSql("SELECT doc_id, toks FROM d")},
    st AS (SELECT CAST(CAST(SUM(len(toks)) AS BIGINT) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                  CAST(COUNT(*) AS DOUBLE) AS n FROM d),
    sc AS (
      SELECT doc_id,
             CAST(floor(ln(1.0 + (st.n - CAST(df AS DOUBLE) + 0.5)
                                 / (CAST(df AS DOUBLE) + 0.5))
                        * (CAST(tf AS DOUBLE) * 2.2
                           / (CAST(tf AS DOUBLE)
                              + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / st.avgdl))))
                        * 1000000000.0) AS BIGINT) AS part_e9
      FROM tf JOIN df USING (term), st
      WHERE term IN ($terms))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(part_e9) AS BIGINT) AS bm25_e9
    FROM sc GROUP BY doc_id
    ORDER BY bm25_e9 DESC, doc_id LIMIT 20"""
  }

  val invertedIndexSql: String = s"""
    WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
    ${tfSql("SELECT doc_id, toks FROM d")},
    r AS (SELECT doc_id, term, tf,
                 ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
          FROM tf)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
           COALESCE(string_agg(CASE WHEN rn <= 15 THEN CAST(doc_id AS VARCHAR) END,
                               ',' ORDER BY doc_id), '') AS postings
    FROM r GROUP BY term"""

  val importanceSql: String = {
    val srcs = TargetSources.map(t => s"'$t'").mkString(", ")
    s"""
    WITH d AS (SELECT doc_id, source IN ($srcs) AS tgt, $toks AS toks FROM documents),
    ${tfSql("SELECT doc_id, tgt, toks FROM d", extra = "tgt")},
    c AS (SELECT term,
                 CAST(SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS BIGINT) AS ct,
                 CAST(SUM(tf) AS BIGINT) AS cr
          FROM tf GROUP BY term),
    t AS (SELECT CAST(SUM(ct) AS BIGINT) + CAST(COUNT(*) AS BIGINT) AS tgtv,
                 CAST(SUM(cr) AS BIGINT) + CAST(COUNT(*) AS BIGINT) AS rawv FROM c),
    w AS (SELECT term,
                 CAST(floor(ln(CAST((ct + 1) * t.rawv AS DOUBLE)
                               / CAST((cr + 1) * t.tgtv AS DOUBLE))
                            * 1000000.0) AS BIGINT) AS w_e6
          FROM c, t)
    SELECT doc_id, dl AS n_tokens, CAST(SUM(tf * w_e6) AS BIGINT) AS importance_e6
    FROM tf JOIN w USING (term) GROUP BY doc_id, dl"""
  }

  val lmQualitySql: String = s"""
    WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
    ${tfSql("SELECT doc_id, toks FROM d")},
    cnts AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts),
    lp AS (SELECT term,
                  CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
                             * 1000000.0) AS BIGINT) AS lp_e6
           FROM cnts, t),
    sc AS (SELECT doc_id, dl, s_e6, s_e6 // dl AS avg_lp_e6 FROM (
             SELECT doc_id, dl, CAST(SUM(tf * lp_e6) AS BIGINT) AS s_e6
             FROM tf JOIN lp USING (term) GROUP BY doc_id, dl)),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
    cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM (
              SELECT avg_lp_e6 AS v, COUNT(*) AS c FROM sc GROUP BY 1)),
    th AS (SELECT MIN(CASE WHEN cum >= (n.n + 2) // 3 THEN v END) AS p33,
                  MIN(CASE WHEN cum >= (2 * n.n + 2) // 3 THEN v END) AS p66
           FROM cum, n)
    SELECT doc_id, dl AS n_tokens, avg_lp_e6,
           CASE WHEN avg_lp_e6 > th.p66 THEN 'head'
                WHEN avg_lp_e6 > th.p33 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sc, th"""

  val pmiSql: String = s"""
    WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
    dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM d),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_t FROM dt GROUP BY term),
    p AS (SELECT a.term AS term_a, b.term AS term_b, CAST(COUNT(*) AS BIGINT) AS n_ab
          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
          GROUP BY a.term, b.term HAVING COUNT(*) >= 25)
    SELECT term_a, term_b, ta.n_t AS n_a, tb.n_t AS n_b, n_ab,
           CAST(floor(ln(CAST(n_ab * n.n AS DOUBLE)
                         / CAST(ta.n_t * tb.n_t AS DOUBLE)) * 1000000.0) AS BIGINT) AS pmi_e6
    FROM p JOIN tc ta ON ta.term = p.term_a
           JOIN tc tb ON tb.term = p.term_b, n"""

  /** D17 oracle: the planted union feeds the shared unrolled-Lloyd CTE
    * chain (k = 10 = ⌈600/64⌉, matching the Spark side's dynamic k at
    * the driver-checked SFs), then intra-cluster exact-integer cosine
    * pairs resolve dup_of = min matching lower id.
    */
  val semanticDedupSql: String = {
    val src = """SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(generate_series(1, len(embedding)), i ->
               CAST(embedding[i] AS DOUBLE)
                 * (1 + CAST(((vec_id + i - 1) % 7) - 3 AS DOUBLE) / 100.0))
      FROM embeddings WHERE vec_id < 500 AND vec_id % 5 = 0"""
    s"""
    WITH ${PipelineQueries.kmeansCtes(k = 10, iters = 3, dim = 64, srcSql = src)},
    m AS (
      SELECT id, v, c, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
      FROM a3),
    dup AS (
      SELECT idb AS vid, MIN(ida) AS dup_of FROM (
        SELECT a.id AS ida, b.id AS idb, a.n2 AS n2a, b.n2 AS n2b,
               CAST(list_sum(list_transform(generate_series(1, 64), i ->
                 a.v[i] * b.v[i])) AS BIGINT) AS dot
        FROM m a JOIN m b ON a.c = b.c AND a.id < b.id)
      WHERE dot > 0
        AND CAST(dot AS DOUBLE) / sqrt(CAST(n2a AS DOUBLE))
              / sqrt(CAST(n2b AS DOUBLE)) >= 0.9
      GROUP BY idb)
    SELECT m.id AS vec_id, CAST(m.c AS INT) AS cluster,
           COALESCE(d.dup_of, -1) AS dup_of
    FROM m LEFT JOIN dup d ON d.vid = m.id"""
  }

  /** X34 — add-one-smoothed bigram-LM mean logprob per doc. */
  def bigramLm(s: SparkSession, dir: String): DataFrame =
    Retrieval.bigramLmScores(docs(s, dir))

  /** X42 — held-out LM filter (the CCNet topology): model trained on
    * the even-id split, the odd-id split scored under it.
    */
  def heldOutLm(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Retrieval.bigramLmHeldOut(
      d.filter(pmod(col("doc_id"), lit(2)) === 0),
      d.filter(pmod(col("doc_id"), lit(2)) === 1))
  }

  /** X42 oracle: x34's generator and exactness discipline with the
    * counts from the TRAIN split and LEFT joins on the candidate
    * side (unseen bigram → add-one numerator 1; unseen first word →
    * context count 0 + |V|).
    */
  val heldOutLmSql: String = s"""
    WITH tr AS (SELECT doc_id, $toks AS toks FROM documents WHERE doc_id % 2 = 0),
    ca AS (SELECT doc_id, $toks AS toks FROM documents WHERE doc_id % 2 = 1),
    bgt AS (
      SELECT pr[1] AS w1, pr[2] AS w2
      FROM (SELECT unnest(list_transform(range(1, len(toks)),
                                         i -> [toks[i], toks[i+1]])) AS pr
            FROM tr)
    ),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bgt GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
          FROM (SELECT unnest(toks) AS t FROM tr)),
    bgc AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, pr[1] AS w1, pr[2] AS w2
      FROM (SELECT doc_id, toks,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> [toks[i], toks[i+1]])) AS pr
            FROM ca)
    ),
    btf AS (SELECT doc_id, dl, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
            FROM bgc GROUP BY 1, 2, 3, 4),
    lp AS (
      SELECT b.doc_id, b.dl, b.tf,
             CAST(floor(ln(CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE)
                           / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS lp_e6
      FROM btf b LEFT JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
                 LEFT JOIN c1 ON c1.w1 = b.w1
                 CROSS JOIN v
    ),
    sc AS (SELECT doc_id, dl, CAST(SUM(tf * lp_e6) AS BIGINT) AS lp_sum_e6
           FROM lp GROUP BY doc_id, dl)
    SELECT doc_id, dl - 1 AS n_bigrams, lp_sum_e6,
           CAST(lp_sum_e6 // (dl - 1) AS BIGINT) AS avg_lp_e6
    FROM sc"""

  /** Bigram pairs via 1-based list indexing over range(1, len) — the
    * SQL twin of the slice+transform generator; logprob = one ln() of
    * exact-integer-derived doubles, e6-floored before the exact sum;
    * `//` truncates toward zero like Spark's `div` (negative sums).
    */
  val bigramLmSql: String = s"""
    WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
    bgw AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, pr[1] AS w1, pr[2] AS w2
      FROM (SELECT doc_id, toks,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> [toks[i], toks[i+1]])) AS pr
            FROM d)
    ),
    btf AS (
      SELECT doc_id, dl, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
      FROM bgw GROUP BY doc_id, dl, w1, w2
    ),
    c12 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12 FROM btf GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
          FROM (SELECT unnest(toks) AS t FROM d)),
    lp AS (
      SELECT w1, w2,
             CAST(floor(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS lp_e6
      FROM c12 JOIN c1 USING (w1) CROSS JOIN v
    ),
    sc AS (
      SELECT doc_id, dl, CAST(SUM(tf * lp_e6) AS BIGINT) AS lp_sum_e6
      FROM btf JOIN lp USING (w1, w2) GROUP BY doc_id, dl
    )
    SELECT doc_id, dl - 1 AS n_bigrams, lp_sum_e6,
           CAST(lp_sum_e6 // (dl - 1) AS BIGINT) AS avg_lp_e6
    FROM sc"""

  /** T14 — TextRank keyword importance over the co-occurrence graph. */
  def textRankQ(s: SparkSession, dir: String): DataFrame =
    Retrieval.textRank(docs(s, dir), minPairCount = 25, iters = 3)

  /** T14 oracle: the x30 edge derivation made undirected, then 3
    * damped PageRank rounds UNROLLED in exact e12 integer arithmetic
    * (same truncating-division order as the Spark side).
    */
  private def textRankRoundSql(k: Int): String = {
    val prev = s"r${k - 1}"
    s"""c$k AS (
      SELECT e.dst, CAST(SUM(r.pr * e.w // ow.wout) AS BIGINT) AS csum
      FROM e JOIN ow ON ow.src = e.src JOIN $prev r ON r.term = e.src
      GROUP BY e.dst
    ),
    r$k AS (
      SELECT ow.src AS term,
             (1000000 - 850000) * (1000000000000 // nn.n) // 1000000
               + 850000 * COALESCE(c$k.csum, 0) // 1000000 AS pr
      FROM ow LEFT JOIN c$k ON c$k.dst = ow.src, nn
    )"""
  }

  val textRankSql: String = s"""
    WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
    dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM d),
    p AS (SELECT a.term AS ta, b.term AS tb, CAST(COUNT(*) AS BIGINT) AS w
          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
          GROUP BY 1, 2 HAVING COUNT(*) >= 25),
    e AS (SELECT ta AS src, tb AS dst, w FROM p
          UNION ALL SELECT tb AS src, ta AS dst, w FROM p),
    ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ow),
    r0 AS (SELECT src AS term, 1000000000000 // nn.n AS pr FROM ow, nn),
    ${(1 to 3).map(textRankRoundSql).mkString(",\n")}
    SELECT term, CAST(pr AS BIGINT) AS pr_e12 FROM r3"""

  /** X40 twin. The DCG discount / ideal-DCG literals are injected
    * from the SAME Scala arrays the Spark side uses
    * ([[Retrieval.dcgDiscountsE6]]) — no independent log₂ on either
    * engine.
    */
  val retrievalEvalSql: String = {
    val srcs = TargetSources.map(t => s"'$t'").mkString(", ")
    val disc = Retrieval.dcgDiscountsE6(10)
    val idcg = Retrieval.idcgPrefixE6(10)
    val discCase = disc.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    val idcgCase = idcg.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    s"""
    WITH d AS (SELECT doc_id, source, $toks AS toks FROM documents),
    ${tfSql("SELECT doc_id, source, toks FROM d", extra = "source")},
    ct AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY term),
    stf AS (SELECT source, term, CAST(SUM(tf) AS BIGINT) AS stf
            FROM tf WHERE source IN ($srcs) GROUP BY source, term),
    q AS (SELECT source AS qid, term FROM (
            SELECT source, term,
                   ROW_NUMBER() OVER (PARTITION BY source
                     ORDER BY stf * 1000000 // ctf DESC, stf DESC, term) AS rn
            FROM stf JOIN ct USING (term))
          WHERE rn <= 5),
    st AS (SELECT CAST(CAST(SUM(len(toks)) AS BIGINT) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                  CAST(COUNT(*) AS DOUBLE) AS n FROM d),
    sc AS (
      SELECT qid, doc_id,
             CAST(floor(ln(1.0 + (st.n - CAST(df AS DOUBLE) + 0.5)
                                 / (CAST(df AS DOUBLE) + 0.5))
                        * (CAST(tf AS DOUBLE) * 2.2
                           / (CAST(tf AS DOUBLE)
                              + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / st.avgdl))))
                        * 1000000000.0) AS BIGINT) AS part_e9
      FROM tf JOIN df USING (term) JOIN q USING (term), st),
    pd AS (SELECT qid, doc_id, CAST(SUM(part_e9) AS BIGINT) AS bm25_e9
           FROM sc GROUP BY qid, doc_id),
    rk AS (SELECT qid, doc_id,
                  ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY bm25_e9 DESC, doc_id) AS rank
           FROM pd),
    rel AS (SELECT source AS qid, doc_id FROM documents WHERE source IN ($srcs)),
    nr AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
    h AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_hit,
                 CAST(MIN(rank) AS BIGINT) AS first_rank,
                 CAST(SUM(CASE rank $discCase END) AS BIGINT) AS dcg_e6
          FROM rk JOIN rel USING (qid, doc_id) WHERE rank <= 10 GROUP BY qid)
    SELECT qid, n_rel,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(n_hit, 0) * 1000000 // n_rel AS BIGINT) AS recall_e6,
           CAST(COALESCE(1000000 // first_rank, 0) AS BIGINT) AS mrr_e6,
           CAST(COALESCE(dcg_e6, 0) AS BIGINT) AS dcg_e6,
           CAST(COALESCE(dcg_e6 * 1000000
                           // (CASE least(n_rel, 10) $idcgCase END), 0) AS BIGINT)
             AS ndcg_e6
    FROM nr LEFT JOIN h USING (qid)"""
  }

  val board: Seq[BoardQuery] = Seq(
    BoardQuery("x40_retrieval_eval", retrievalEvalSql, retrievalEval),
    BoardQuery("t14_textrank", textRankSql, textRankQ),
    BoardQuery("x34_bigram_lm", bigramLmSql, bigramLm),
    BoardQuery("x42_heldout_lm", heldOutLmSql, heldOutLm),
    BoardQuery("x26_tfidf_topk", tfIdfSql, tfIdf),
    BoardQuery("x27_bm25_search", bm25Sql, bm25),
    BoardQuery("x28_inverted_index", invertedIndexSql, invertedIndex),
    BoardQuery("x29_importance_weights", importanceSql, importance),
    BoardQuery("x30_pmi_cooccur", pmiSql, pmi),
    BoardQuery("x31_lm_quality", lmQualitySql, lmQuality),
    BoardQuery("d17_semantic_dedup", semanticDedupSql, semanticDedup))
}
