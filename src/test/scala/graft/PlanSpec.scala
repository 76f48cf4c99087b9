package graft

/** Plan-shape regression tests: the scale properties claimed in
  * README/COVERAGE must be visible in the physical plans, not just
  * intended. A change that silently degrades one of these (e.g. an
  * aggregate falling back to SortAggregate, a lost pushdown) fails
  * here before it costs anything on a cluster.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(name: String): String = {
    // Default maxMetadataStringLength (100) truncates the PushedFilters
    // list mid-entry once the normalized events read pushes the ts
    // bounds too — the very pushdown these tests assert on.
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1000")
    try SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** How often `marker` occurs in the query's optimized logical plan:
    * a count of the copies of the expression tree it stands for.
    */
  private def optimizedCount(name: String, marker: String): Int =
    SparkEntry.queries(name)(spark, Sf).queryExecution.optimizedPlan.toString
      .split(java.util.regex.Pattern.quote(marker), -1).length - 1

  test("OHLCV aggregates hash, not sort (custom min_by_ord2)") {
    val p = plan("a1_ohlcv_5m")
    assert(p.contains("HashAggregate"))
    assert(p.contains("min_by_ord2") && p.contains("max_by_ord2"))
    assert(!p.contains("SortAggregate"), "OHLCV fell back to SortAggregate")
    assert(p.contains("partial_min_by_ord2"), "lost map-side partial aggregation")
  }

  test("candles: symbol filter pushes into the parquet scan; top-k avoids a global sort") {
    val p = plan("q4_candles")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(event_type,click)"),
      "symbol filter not pushed to scan")
    assert(p.contains("TakeOrderedAndProject"), "top-k planned as full sort")
  }

  test("shipping priority broadcasts the dimension side") {
    val p = plan("h3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("h5 six-table join broadcasts nation and region") {
    val p = plan("h5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("r_name"))
  }

  test("pricing summary prunes lineitem columns at the scan") {
    val df = SparkEntry.queries("h1_pricing_summary")(spark, Sf)
    // (collectLeaves sees the whole unexecuted AQE subtree as one
    // leaf, so assert on the scan's ReadSchema instead.)
    val readSchema = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .linesIterator.filter(_.contains("ReadSchema")).mkString
    // 11-column table; the query needs exactly 7.
    assert(readSchema.split(",").length === 7, readSchema)
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"))
  }

  test("date filter reaches the events scan through the whole medallion pipeline") {
    val p = plan("q1_count_day")
    // The trade_date = 2024-01-15 predicate must appear as a ts bound
    // inside the scan's pushed filters, not as a post-scan filter only.
    assert(p.contains("PushedFilters: [IsNotNull"), "no pushdown at all")
    assert(p.contains("2024-01-15") || p.contains("1705276800"),
      "day constraint did not reach the scan")
  }

  test("embedding dedup runs on equi-joins only — no nested-loop over the corpus (r1 VERDICT)") {
    val p = plan("d6_embedding_dups")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "d6 regressed to an all-pairs self-join")
  }

  test("token packing has no global no-partition window (r1 VERDICT scale-killer)") {
    // Every WindowExec in the plan must carry a partition spec; the
    // old formulation's `Window [...] ORDER BY` with an empty
    // partitionBy serialized the corpus through one task.
    val p = plan("x10_token_packing")
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, "expected a windowed prefix sum in the plan")
    windowLines.foreach { l =>
      assert(l.contains("windowspecdefinition") && l.contains("__part"),
        s"window without partition spec: $l")
    }
  }

  test("h5 region pick is an in-plan scalar aggregate, not a driver collect") {
    // The min(r_name) pick joins in-plan; nothing about the query
    // shape requires executing a separate job at build time.
    val df = SparkEntry.queries("h5_region_revenue")(spark, Sf)
    assert(df.queryExecution.analyzed.toString.contains("min(r_name"))
  }

  test("near-dup pair generation stays on equi-joins — no nested loop over the corpus") {
    // The CC input (LSH candidates -> exact verify) must never regress
    // to an all-pairs self-join; the quadratic term lives only inside
    // band buckets.
    val p = graft.operators.Dedup.verifiedPairs(
      graft.sources.Tables.documents(spark, Sf), minJaccardE6 = 500000L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "verifiedPairs regressed to an all-pairs join")
  }

  test("containment pairs stay on equi-joins — quadratic work only inside LSH buckets") {
    val p = graft.operators.Dedup.containmentPairs(
      graft.sources.Tables.documents(spark, Sf), minContainE6 = 500000L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "containmentPairs regressed to an all-pairs join")
  }

  test("market beta broadcasts the O(days) market frame, never shuffles returns for it") {
    val p = graft.operators.Indicators.marketBeta(SparkEntry.silverDf(spark, Sf))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "market-mean join must broadcast the tiny per-day frame")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("bloom decontamination probes before any join touches the corpus side") {
    val p = plan("d10_decontam_bloom")
    // The bitset probe is a Filter (shiftright bit tests), and the
    // only join is the broadcast FP-removal join — same as d8.
    assert(p.contains("shiftright"), "bloom bit-test filter missing from the plan")
    assert(p.contains("BroadcastHashJoin"), "exact FP-removal join must broadcast the bench side")
    assert(!p.contains("SortMergeJoin"), "corpus side must not shuffle for the verify join")
  }

  test("bar rollup re-aggregates bars with the hash-aggregate path, no raw-trade rescan") {
    val p = plan("a7_ohlcv_rollup")
    assert(p.contains("min_by_ord2") && p.contains("max_by_ord2"))
    assert(!p.contains("SortAggregate"), "rollup fell back to SortAggregate")
  }

  test("substring dedup is hash aggregates + one equi-join — nothing quadratic") {
    val p = plan("d12_substring_dup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "substring dedup regressed to an all-pairs shape")
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.isEmpty, s"unexpected window stage:\n${windowLines.mkString("\n")}")
  }

  test("heavy hitters pass 2 filters with an In predicate, no join against the corpus") {
    val p = ExtendedQueries.heavyHitterTokens(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "candidate filter should be a broadcast-free In predicate")
  }

  test("return covariance: daily frame aggregates before the pair join") {
    val p = plan("b8_return_cov")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pair generation must stay an equi-join on trade_date")
  }

  test("k-means assignment is a projection — no join, window, or extra shuffle per iteration") {
    val p = graft.operators.KMeans.assignments(
      graft.sources.Tables.embeddings(spark, Sf), k = 4, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Window ["),
      s"assignment stage should be scan+project only:\n$p")
  }

  test("tf-idf never forces a vocab-sized broadcast; bm25 broadcasts query-terms-shaped df stats (r10 VERDICT)") {
    // x26 joins tfs against the FULL-vocabulary df aggregate — 10⁷–10⁸
    // rows at web scale — so the join must carry no broadcast hint.
    // (The planner/AQE may still pick broadcast when the corpus really
    // is tiny, as at this SF; that is their call, made from real sizes,
    // not a forced multi-GB build side.)
    val qe26 = SparkEntry.queries("x26_tfidf_topk")(spark, Sf).queryExecution
    assert(!qe26.optimizedPlan.toString.contains("strategy=broadcast"),
      s"x26: vocab-sized df stats must not be hint-broadcast:\n${qe26.optimizedPlan}")
    val p26 = plan("x26_tfidf_topk")
    assert(!p26.contains("BroadcastNestedLoopJoin") && !p26.contains("CartesianProduct"),
      "x26: term join degenerated")
    // x27 DOES broadcast df stats — but only after the isin restriction
    // to the three query terms, so the build side is query-shaped: the
    // IN filter must appear on BOTH the probe side and the broadcast
    // aggregate's input (2 occurrences).
    val p27 = plan("x27_bm25_search")
    assert(p27.contains("BroadcastHashJoin"), "x27: query-restricted df stats not broadcast")
    val inFilters = """Filter term#\d+ IN \(join,spark,window\)|Filter term#\d+ IN \(spark,join,window\)""".r
      .findAllIn(p27).size
    assert(inFilters >= 2,
      s"x27: df broadcast build side is not restricted to the query terms:\n$p27")
    // The 1-row (N, Σdl) stats frame legitimately joins as a broadcast
    // nested loop (the in-plan h15 posture, r11 verdict item #5); the
    // TERM join degenerating would show as a BNLJ between corpus-shaped
    // sides — pin that the term join stayed a BroadcastHashJoin and no
    // cartesian appeared, and that exactly the one scalar BNLJ exists.
    assert(!p27.contains("CartesianProduct"), "x27: term join degenerated")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p27).size <= 1,
      "x27: more than the one scalar-stats broadcast nested loop")
    // x40's df stats go through a left-semi join against the broadcast
    // query-term set BEFORE their own broadcast — |query terms| rows.
    val p40 = plan("x40_retrieval_eval")
    assert(p40.contains("LeftSemi"),
      s"x40: df stats must semi-join against the query-term set before broadcasting:\n$p40")
  }

  test("b20 VPIN volume clock is day-bucketed — no per-symbol unbounded window over trades (r10 VERDICT)") {
    val p = plan("b20_vpin")
    // The in-day cumulative sum partitions by (symbol, trade_date); the
    // only symbol-partitioned window runs over the O(symbols×days)
    // day-total aggregate. A window (or its sort) keyed by symbol alone
    // directly over event_time-ordered trades is the 100 TB killer.
    assert("""windowspecdefinition\(symbol#\d+, event_time""".r.findFirstIn(p).isEmpty,
      s"b20: found a per-symbol window ordered by raw event_time:\n$p")
    assert("""Sort \[symbol#\d+ [^,\]]*, event_time""".r.findFirstIn(p).isEmpty,
      s"b20: found a per-symbol sort over raw trades:\n$p")
  }

  test("bm25 top-k avoids a global sort") {
    assert(plan("x27_bm25_search").contains("TakeOrderedAndProject"))
  }

  test("pmi pair generation is an equi-join on doc_id, term totals broadcast") {
    val p = plan("x30_pmi_cooccur")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "co-occurrence must never be an all-pairs product")
  }

  test("semantic dedup pairs join on the cluster key, never cross-cluster") {
    val p = plan("d17_semantic_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "intra-cluster pairing degenerated to an all-pairs shape")
  }

  test("min-cost supplier broadcasts part and supplier; argmin join-back stays equi") {
    val p = plan("h2_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), "dimension sides not broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("big orders: quantity aggregate is map-side partial before the joins") {
    val p = plan("h18_big_orders")
    assert(p.contains("HashAggregate") && p.contains("partial_sum"),
      "lost map-side partial aggregation on l_orderkey")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("priority-late orders plan a semi join, not a distinct over an inner join") {
    val p = plan("h4_priority_late")
    assert(p.contains("LeftSemi"), "EXISTS did not plan as a semi join")
    assert(!p.contains("CartesianProduct"))
  }

  test("funnel stages are equi-joins on user_id; cohorts count-distinct is two-phase") {
    val pf = plan("x32_funnel")
    assert(!pf.contains("CartesianProduct"),
      "funnel stage joins degenerated")
    val pc = plan("x33_retention_cohorts")
    assert(pc.contains("partial_count(distinct"),
      "cohort count-distinct lost its partial phase")
    assert(!pc.contains("CartesianProduct"))
  }

  test("idle-rich customers: anti join on orders, one-row stats broadcast in-plan") {
    val p = plan("h22_idle_rich")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not plan as an anti join")
    // the 1-row scalar stats frame may legitimately join as a
    // broadcast nested loop; what must NOT appear is a collect-based
    // literal (the filter still references the aggregate columns).
    assert(p.contains("c_acctbal"))
  }

  test("incremental bar merge: both levels hash-aggregate with map-side partials") {
    val p = plan("v1_incremental_ohlcv")
    // Two partial aggregations (base/delta slices) + the O(bars)
    // merge must all stay HashAggregate with partial min_by_ord2 —
    // a SortAggregate fallback would mean the carries grew a
    // non-primitive buffer.
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      "partial-bar merge fell back to SortAggregate")
    assert(p.contains("partial_min_by_ord2"), "lost map-side partial aggregation")
  }

  test("merge upsert is one full-outer join on the key — no window re-sort") {
    val p = plan("v2_merge_upsert")
    assert(p.contains("FullOuter"), "MERGE semantics lost the full-outer join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("h19 disjunctive predicate stays a hash join — Catalyst extracts the equi-key") {
    val p = plan("h19_branded_revenue")
    assert(p.contains("BroadcastHashJoin"), "part dimension should broadcast-hash-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the OR-of-conjunctions must ride the l_partkey = p_partkey equi-key")
  }

  test("h20 nested semi-join emits each supplier once via LeftSemi, no DISTINCT stage") {
    val p = plan("h20_excess_suppliers")
    assert(p.contains("LeftSemi"), "supplier membership test lost the semi join")
    assert(!p.toLowerCase.contains("sortaggregate"))
  }

  test("h16 NOT IN is a broadcast anti join; distinct suppliers two-phase hash") {
    val p = plan("h16_part_supplier_cnt")
    assert(p.contains("LeftAnti"), "complaints exclusion should plan LeftAnti")
    assert(p.contains("partial_count(distinct"),
      "count distinct lost map-side partial aggregation")
  }

  test("h15 max revenue is an in-plan scalar broadcast back — no second lineitem scan") {
    val p = plan("h15_top_supplier")
    val scans = p.split('\n').count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans <= 2, s"expected the rev aggregate reused/rebuilt at most twice, got $scans scans")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("h21 double correlation is LeftSemi + LeftAnti hash joins on orderkey, supplier broadcast") {
    val p = plan("h21_waiting_suppliers")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as an anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "correlations regressed to a non-equi join")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must avoid a global sort")
  }

  test("h9 five-table join: part and supplier->nation broadcast; only orders shuffles") {
    val p = plan("h9_product_profit")
    val bhj = p.split('\n').count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 3, s"expected part/supplier/nation broadcasts, got $bhj broadcast joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("t11 classifier inference is a pure scan projection — zero exchanges, no UDF") {
    val p = plan("t11_quality_classifier")
    assert(!p.contains("Exchange"), "hashed-ngram scoring must not shuffle")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "scoring fell off the native-expression path")
    assert(p.contains("poly_hash"), "native PolyHash missing from the plan")
  }

  test("s5 PQ: codebook is a literal; corpus side never shuffles — only the query set broadcasts") {
    val p = plan("s5_knn_pq")
    // The corpus scan flows scan -> encode/reconstruct projection ->
    // broadcast join; the only exchanges allowed are the query-side
    // broadcast and the final per-query top-k window shuffle (O(queries×k)).
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    val shuffles = p.split('\n').count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 1, s"expected at most the top-k window shuffle, got $shuffles")
  }

  test("x36 calibration scores inline — no self-join to re-attach source, one window exchange") {
    val p = plan("x36_score_calibration")
    assert(!p.contains("Join"), "score must be a projection on the scan, not a join-back")
    val shuffles = p.split('\n').count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, s"expected exactly the per-source window exchange, got $shuffles")
  }

  test("c2 curation chain: one scan family, hash-keyed dedup, no window over the whole corpus") {
    val p = plan("c2_curation_pipeline")
    assert(!p.contains("CartesianProduct"), "curation chain must stay equi-join only")
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.isEmpty, "no corpus-wide window expected in the curation chain")
    // The StageBarrier pins the ngramScoreMilli tree to one evaluation:
    // its bucket-weight modulus appears once. Without the barrier the
    // quota filter is pushed down with the score alias re-inlined.
    assert(optimizedCount("c2_curation_pipeline", "% 2001)") === 1,
      "the ngramScoreMilli tree is re-inlined past its StageBarrier stage")
  }

  test("t13 encode runs on the vocab table: equi-joins only, native codegen expressions") {
    val p = plan("t13_bpe_encode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "encode join degenerated")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("s5/s8 PQ encode is the native pq_codes projection, not interpreted HOF folds") {
    val p = plan("s5_knn_pq")
    assert(p.contains("pq_codes"), "native PqCodes missing — HOF fold came back")
    assert(p.contains("pq_reconstruct"), "native PqReconstruct missing")
    assert(!p.contains("CartesianProduct"))
    val p8 = plan("s8_knn_ivfpq")
    assert(p8.contains("pq_codes") && !p8.contains("CartesianProduct"))
  }

  test("t14 textrank rounds are equi-joins over the reused edge table — no cartesian, no UDF") {
    val p = plan("t14_textrank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "rank round joins degenerated")
    assert(!p.contains("ScalaUDF"))
    // The checkpointed edge table shows up as a reused scan, not a
    // re-derivation: the corpus-side token explode appears at most
    // once in the final-round plan.
    assert(p.split('\n').count(_.contains("Generate explode")) <= 1,
      "edge derivation re-inlined into the iteration")
  }

  test("x39 markov: one user window partitioning, constant-size output aggregate") {
    val p = plan("x39_markov_transitions")
    assert(p.contains("Window"), "lead window missing")
    assert(!p.contains("CartesianProduct"))
  }

  test("vpin broadcasts the O(symbols) totals; windows all carry partition specs") {
    val p = plan("b20_vpin")
    assert(p.contains("BroadcastHashJoin"), "per-symbol totals not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // The volume clock must be a per-symbol window, never global.
    p.linesIterator.filter(_.contains("Window [")).foreach { l =>
      assert(l.contains("windowspecdefinition") && l.contains("symbol"),
        s"window without symbol partition: $l")
    }
  }

  test("amihud joins two aggregated day frames — no raw-trade join") {
    val p = plan("b18_amihud")
    // Both join inputs are (symbol, day) aggregates: every join in
    // the plan must sit ABOVE at least two HashAggregates.
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("sequence packing keeps the x10 discipline: no global no-partition window") {
    val p = plan("t16_sequence_packing")
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, "expected the blocked prefix-sum window")
    windowLines.foreach { l =>
      assert(l.contains("windowspecdefinition") && l.contains("__part"),
        s"window without partition spec: $l")
    }
    assert(p.contains("BroadcastHashJoin"), "block offsets not broadcast")
  }

  test("z-order key is a native codegen'd projection — no UDF, no extra shuffle") {
    val p = plan("z1_zorder_cluster")
    assert(p.contains("morton"), "morton expression missing from the plan")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "layout key fell off the codegen path")
    // quantize+interleave+cell is scan-side: exactly the one
    // aggregation exchange, nothing before it.
    assert(p.contains("HashAggregate"))
  }

  test("t17 gate: six scan-side rules, rep joins back per doc — no cartesian, no UDF") {
    val p = plan("t17_quality_gate")
    assert(p.contains("count_in_set"), "stop rule lost the native hit counter")
    assert(!p.contains("CartesianProduct") && !p.contains("ScalaUDF"))
    assert(p.contains("HashAggregate"), "funnel should hash-aggregate per lang")
  }

  test("x40 eval: query table and term stats broadcast; no cartesian; per-qid window only") {
    val p = plan("x40_retrieval_eval")
    assert(p.contains("BroadcastHashJoin"), "query-term/df join should broadcast")
    assert(!p.contains("CartesianProduct"))
    // the top-k is a per-qid window partitioning, never a global sort
    assert(p.contains("row_number"))
  }

  test("d21 tuning: candidates come from band-key equi-joins — all-pairs only in the truth stage") {
    val p = plan("d21_lsh_tuning")
    // The truth stage is a deliberate bounded all-pairs baseline (it
    // carries jaccardPairs' row guard); every per-config candidate
    // join must be a hash equi-join on (band, key).
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no equi-join found for band buckets")
    // (the native minhash_sig expression sits behind the staged
    // localCheckpoint, so it is asserted in TextDedupSpec, not here)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate stage regressed to an all-pairs join")
  }

  test("d22 winnowing: one native fused expression, fingerprint equi-join, no cartesian") {
    val p = plan("d22_winnowing")
    assert(p.contains("winnow_fingerprints"),
      "winnowing lost the native fused expression (HOF form is O(m^2 k))")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair stage regressed to an all-pairs join")
    // The StageBarrier keeps the size filter from re-inlining the winnow
    // tree: d22 self-joins the fingerprint table, so one tree per side.
    assert(optimizedCount("d22_winnowing", "winnow_fingerprints") === 2,
      "the winnow tree is re-inlined past its StageBarrier stage")
  }

  test("c4 prune: assignment scan plus cluster-keyed windows — no join, no cartesian") {
    val p = plan("c4_prototype_prune")
    assert(!p.contains("Join"), "prototype prune must not join — window over the assignment scan")
    assert(p.contains("row_number"), "rank window missing")
  }

  test("x27 bm25: corpus stats join in-plan as a one-row broadcast — no driver .head()") {
    // The r11 verdict note: bm25TopK computed (N, Σdl) with a
    // driver-side .head(), splitting the query into two jobs. Now the
    // stats aggregate is a crossJoin(broadcast(...)) INSIDE the plan
    // (the h15 posture bm25MultiQuery already had): the scalar frame
    // must be visible as a broadcast nested-loop join of a one-row
    // aggregate, and the plan must carry the __sumdl/__n columns.
    val p = plan("x27_bm25_search")
    assert(p.contains("__sumdl") && p.contains("__n"),
      "in-plan corpus stats columns missing — reverted to a driver-side head()?")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "one-row stats frame should broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must avoid a global sort")
  }

  test("d23 containment: posting-probe and verify are equi-joins — no cartesian, no NL join") {
    val p = plan("d23_containment")
    assert(!p.contains("CartesianProduct"), "containment must never go all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "containment joins must stay equi (shingle / doc-id keyed)")
  }

  test("v7 delta join: three delta terms, no base-x-base rejoin, no cartesian") {
    val p = plan("v7_delta_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // The union of materialized + three delta terms = 4 join branches.
    assert(p.contains("Union"), "delta decomposition should union its terms")
  }

  test("x44 salted join: the salt join key is present; no cartesian from replication") {
    val p = plan("x44_salted_join")
    assert(p.contains("__salt"), "salt column missing — operator bypassed?")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }
}
