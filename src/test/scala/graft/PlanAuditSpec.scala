package graft

/** Physical-plan audits: the plan shapes the 100 TB design depends on must
  * hold, not just the results. Each assertion pins a property called out
  * in ARCHITECTURE.md — filter pushdown to the parquet scan, column
  * pruning, broadcast joins for dims, TakeOrderedAndProject for top-k,
  * two-phase hash aggregation, and no BroadcastNestedLoopJoin anywhere a
  * bucketed strategy exists.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q_agg_pricing: filter pushed to parquet scan + two-phase hash aggregate") {
    val p = plan("q_agg_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate\n" + p)
  }

  test("q_scan_project: column pruning reaches the scan (4 columns only)") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"), p)
  }

  test("q_topk / q_pick_oldest: TakeOrderedAndProject, no global sort") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"), plan("q_topk"))
    assert(plan("q_pick_oldest").contains("TakeOrderedAndProject"), plan("q_pick_oldest"))
  }

  test("q_join_broadcast: dim side broadcast, no shuffle join") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_join_inner: nation dim broadcast even in the 3-way join") {
    assert(plan("q_join_inner").contains("BroadcastHashJoin"), plan("q_join_inner"))
  }

  test("q_join_range: bucketed equi-join — BroadcastNestedLoopJoin banned") {
    val p = plan("q_join_range")
    assert(!p.contains("BroadcastNestedLoopJoin"), "range join degenerated to BNLJ\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_filter_candidates: whole-stage codegen covers the filter") {
    // AQE's pre-execution plan string hides codegen nodes; ask for the
    // codegen explain explicitly
    val cg = SparkEntry.queries("q_filter_candidates")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(cg.contains("WholeStageCodegen"), cg)
  }

  test("bucketed tables join with ZERO exchanges (co-located join — the 100 TB join plan)") {
    Tables.orders(spark, sfDir).write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.customer(spark, sfDir).write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("b_customer")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      joined.collect() // materialize so AQE finalizes
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), "bucketed join still shuffled:\n" + p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("q_similarity_topk: probe broadcast + TakeOrderedAndProject (corpus never shuffles)") {
    val p = plan("q_similarity_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("q_edit_distance: length-bucket blocking is an equi-join — no BNLJ, no cartesian") {
    val p = plan("q_edit_distance")
    assert(!p.contains("BroadcastNestedLoopJoin"), "edit-distance degenerated to BNLJ\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ann_join: band-bucket self-join — no BNLJ, no cartesian") {
    val p = plan("q_ann_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "ann join degenerated to BNLJ\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_chunk: column pruning — only doc_id and text reach the scan") {
    val p = plan("q_chunk")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q_sample_hash / q_corpus_filter: map-side only — sole exchange is the presentation sort") {
    for (q <- Seq("q_sample_hash", "q_corpus_filter")) {
      val p = plan(q)
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges == 1, s"$q expected exactly 1 exchange (the orderBy), got $exchanges\n" + p)
      assert(p.contains("rangepartitioning"), p)
    }
  }

  test("q_interval_count / q_ann_ivf: bucketed/cell equi-joins — no BNLJ, no cartesian") {
    for (q <- Seq("q_interval_count", "q_ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degenerated to BNLJ\n" + p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("GLOBAL sweep: no BNLJ/CartesianProduct in ANY query outside the documented exemptions") {
    // CLAUDE.md invariant 3's exemption set, enumerated (the invariant
    // text names this sweep as its enforcement): quadratic exact
    // baselines on fixed-small corpora, explicit cross-join semantics,
    // and single-row-broadcast corpus constants. Every OTHER query —
    // present and future — must plan bucketed/broadcast equi-joins; a
    // new query that degenerates fails here by default.
    val exempt = Map(
      // NOTE q_embed_clusters needs no entry: its theta-join pair
      // generation executes EAGERLY inside connectedComponentsStar, so
      // the returned plan is just the label join over checkpointed
      // rounds (same as q_dedup_clusters)
      "q_embed_neardup" -> "pairwise exact baseline (theta self-join)",
      "q_similarity_topk" -> "broadcast single-probe crossJoin",
      "q_join_cross" -> "the operator IS a cross join",
      "q_tfidf" -> "1-row corpus-constant broadcast (N)",
      "q_bm25" -> "1-row corpus-constant broadcast (N, avgdl)",
      "q_bm25_search" -> "1-row corpus-constant broadcast (N, avgdl)",
      "q_perplexity" -> "1-row corpus-constant broadcast (total token count)",
      "q_perplexity_bigram" -> "1-row corpus-constant broadcast (total token count)",
      "q_mix_temperature" -> "1-row corpus-constant broadcast (rate normalizer)",
      "q_pagerank" -> "1-row corpus-constant broadcast (node count N)",
      "q_collocations" -> "1-row corpus-constant broadcast (token/bigram totals)",
      "q_triangles" -> "1-row stat-frame combination (nodes/edges/wedges × triangles)",
      "q_bin_quantile" -> "1-row corpus-constant broadcast (percentile cut array)",
      "q_resample" -> "1-row bucket-range broadcast (min/max)",
      "q_resample_agg" -> "1-row bucket-range broadcast (min/max)",
      "q_histogram" -> "1-row value-range broadcast (min/max)",
      "q_winsorize" -> "1-row corpus-constant broadcast (percentile cut points)",
      "q_mad_outliers" -> "1-row robust-stats broadcasts (median, MAD)",
      "q_skew_profile" -> "1-row corpus-constant broadcast (total, n_keys)",
      "q_dsir_weights" -> "1-row corpus-constant broadcast (token totals, vocab size)",
      "q_kmv_overlap" -> "GROUP-cardinality sketch-pair cross (nGroups² kilobyte sketches, corpus-size-independent)",
      // NOTE q_drift_psi needs no entry: its cut-array crossJoin runs
      // EAGERLY before the bin-frame localCheckpoint, so the returned
      // plan is checkpoint → broadcast equi-join → agg
      "q_drift_ks" -> "1-row bucket-prefix-totals broadcast (buckets-sized, corpus-size-independent)",
      "q_pack_split" -> "1-row bucket-prefix-totals broadcast (the q_drift_ks scan over doc-id token offsets)",
      "q_drift_mw" -> "1-row bucket-prefix-totals broadcast (the q_drift_ks scan)",
      "q_drift_emd" -> "1-row bucket-prefix-totals + cuts broadcasts (the q_drift_ks scan + boundary-gap stitch)",
      "q_spearman" -> "1-row bucket-prefix-totals + n broadcasts (the q_drift_ks scan x2 columns)",
      "q_drift_chi2" -> "margin-cardinality contingency spine cross (R×C cells, corpus-size-independent)",
      "q_t_closeness" -> "margin-cardinality contingency spine cross (class×sensitive cells, corpus-size-independent)",
      "q_benford" -> "1-row corpus-constant broadcast (total count)",
      "q_burstiness" -> "1-row corpus-constant broadcast (doc count N)",
      "q_churn" -> "1-row time-range broadcast (lo/hi midpoint split)",
      "q_perplexity_kn" -> "1-row corpus-constant broadcast (distinct-pair total)",
      "q_logistic_fit" -> "1-row weight-vector broadcast per unrolled GD iteration (the pageRank N pattern)",
      "q_logistic_auc" -> "1-row weight-vector broadcasts (the q_logistic_fit recurrence) + the q_drift_mw bucket-prefix scan broadcasts",
      "q_assoc_rules" -> "1-row corpus-constant broadcast (basket count)",
      "q_naive_bayes" -> "margin-cardinality vocab×class likelihood spine + 1-row vocab/prior-total broadcasts",
      "q_knn_eval" -> "pairwise exact LOO baseline over the fixed-small embedding corpus (the q_embed_neardup class; scale path = annJoin)",
      // NOTE q_bitext_mine needs no entry: its exact A×B cross (the
      // q_knn_eval evidence class; scale path = q_bitext_mine_ann's
      // IVF-cell blocked pool) executes EAGERLY inside bitextMineFrom's
      // pair-frame Ckpt, so the returned plan starts from the
      // checkpointed LogicalRDD (the q_embed_clusters precedent)
      "q_survival" -> "bucket-prefix-totals broadcasts (the q_drift_ks scan, x2 stages)",
      "q_mutual_info" -> "1-row corpus-total broadcast + 1-row stat-frame combination (the q_triangles class)",
      "q_modularity" -> "1-row edge-count broadcast + 1-row stat-frame combination (the q_triangles class)",
      "q_rfm" -> "1-row corpus-constant broadcast (RFM quintile cut arrays)",
      "q_textrank" -> "1-row corpus-constant broadcast (vocabulary size N, the q_pagerank pattern)",
      "q_curriculum" -> "1-row corpus-constant broadcasts (the q_perplexity token total + the difficulty cut array)",
      "q_drift_js" -> "1-row corpus-constant broadcast (train/eval token totals, the q_mutual_info class)",
      "q_distinctive_terms" -> "1-row corpus-constant broadcast (source count for the idf)",
      "q_rrf_fusion" -> "probe-set-cardinality broadcast cross (|queries| probe rows × corpus, the q_similarity_topk class) + the q_bm25_search 1-row stats broadcast",
      "q_matryoshka_eval" -> "probe-set-cardinality broadcast cross (10 probe rows × corpus × |dims|, the q_similarity_topk class)",
      "q_label_noise" -> "label-cardinality centroid-spine broadcast cross (|labels| model rows × corpus, the q_naive_bayes class)")
    val planned = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val p = fn(spark, sfDir).queryExecution.executedPlan.toString
      // planning the iterative dedup queries eagerly localCheckpoints —
      // don't leak their blocks across the rest of the suite
      Hygiene.dropLeakedBlocks(spark)
      name -> (p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
    }.toMap
    val offenders = planned.collect { case (n, true) if !exempt.contains(n) => n }
    assert(offenders.isEmpty, s"undeclared BNLJ/cartesian in: $offenders")
    // and the exemption list must stay EXACT — an exempted query that no
    // longer plans the shape is a stale entry hiding future regressions
    val stale = exempt.keys.filterNot(n => planned.getOrElse(n, false))
    assert(stale.isEmpty, s"stale exemptions (no BNLJ/cartesian planned): $stale")
  }

  test("q_tfidf / q_rep_stats: column pruning — only doc_id and text reach the scan") {
    for (q <- Seq("q_tfidf", "q_rep_stats")) {
      val p = plan(q)
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), s"$q\n" + p)
    }
  }

  test("q_dsir_weights: ONE corpus scan — the vocab count frame is checkpointed (r8)") {
    // importanceWeights' exploded token stream used to feed both the
    // vocab count aggregate and the final per-doc join → two documents
    // scans per execution; the vocab-sized localCheckpoint cuts the
    // count branch, so the RETURNED plan must read documents exactly once
    val p = plan("q_dsir_weights")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly 1 parquet scan, got $scans\n" + p)
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      "expected the checkpointed vocab frame in the plan\n" + p)
  }

  test("q_embed_centroids: one hash exchange (the label aggregate), partial aggregation present") {
    val p = plan("q_embed_centroids")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx\n" + p)
    // the vector-sum must combine map-side: partial + final ObjectHashAggregate
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, "expected partial+final aggregate\n" + p)
  }

  test("q_pipeline_e2e: ONE wide shuffle (dedup fingerprint) + broadcast anti-join + sort") {
    val p = plan("q_pipeline_e2e")
    // the corpus side crosses exactly ONE hash exchange (the dedup
    // fingerprint); the second allowed hash exchange is the EVAL-side
    // distinct feeding the broadcast (eval-sized, not corpus-sized).
    // Filter and sample fuse map-side; the only range exchange is the
    // presentation sort.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges (corpus dedup + eval distinct), got $hashEx\n" + p)
    assert(rangeEx == 1, s"expected exactly 1 range exchange (the orderBy), got $rangeEx\n" + p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("CC star rounds: each step plans hash exchanges + window only — no join, no sort-based aggregate") {
    // The large-star/small-star round is the scale-critical inner loop of
    // connectedComponentsStar (it runs O(log² n) times over the pair
    // graph). Pin its per-step physical plan: ONE hash exchange feeding
    // the partitionBy(u) window (the orderBy-less Window sorts locally,
    // never range-exchanges), ONE hash exchange for the edge dedup
    // (whose keys are the REMAPPED endpoints, so the window partitioning
    // can't be reused), hash aggregation both phases, and no join of any
    // kind — per-round cost must stay 2 shuffles of the (shrinking) edge
    // list. A sort-based fallback (SortAggregate) or a planned join here
    // would multiply the per-round bill at 100 TB.
    import org.apache.spark.sql.functions.col
    val edges = spark.range(0, 1000)
      .select((col("id") % 97).as("v"), (col("id") + 1).as("u"))
      .select(org.apache.spark.sql.functions.greatest(col("u"), col("v")).as("u"),
        org.apache.spark.sql.functions.least(col("u"), col("v")).as("v"))
      .localCheckpoint() // round inputs are checkpointed RDDs, as in the operator
    // the width starLabels derives from the live edge count: 1 at this
    // size, so both exchanges plan as SinglePartition (ParSpec pins the
    // same two exchanges as hashpartitioning at an explicit width of 2)
    val n = Par.adaptiveParts(edges.count())
    for ((step, p) <- Seq(
        "largeStar" -> graft.api.TextDedup.largeStarStep(edges, n),
        "smallStar" -> graft.api.TextDedup.smallStarStep(edges, n))) {
      // audit the pre-execution plan (like the suite's other exchange
      // counts): an EXECUTED AdaptiveSparkPlan prints final + initial
      // trees and double-counts every node
      val plan = p.queryExecution.executedPlan.toString
      val ex = "Exchange (hashpartitioning|SinglePartition)".r.findAllIn(plan).size
      assert(ex == 2, s"$step: expected 2 exchanges (window + dedup), got $ex\n" + plan)
      assert(!plan.contains("Exchange rangepartitioning"), s"$step planned a range exchange\n" + plan)
      assert(plan.contains("Window"), s"$step lost its window\n" + plan)
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$step: dedup must hash-aggregate partial+final\n" + plan)
      assert(!plan.contains("SortAggregate"), s"$step fell back to sort aggregation\n" + plan)
      assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
        s"$step planned a join — the star step must be join-free\n" + plan)
    }
    Hygiene.dropLeakedBlocks(spark)
  }

  test("q_sample_token_budget / q_sample_k_stratum: one window shuffle + presentation sort, no joins") {
    for (q <- Seq("q_sample_token_budget", "q_sample_k_stratum")) {
      val p = plan(q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
      val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).size
      assert(hashEx == 1, s"$q: expected 1 hash exchange (the stratum window), got $hashEx\n" + p)
      assert(rangeEx == 1, s"$q: expected 1 range exchange (the orderBy), got $rangeEx\n" + p)
      assert(p.contains("Window"), s"$q lost its window\n" + p)
      assert(!p.contains("Join"), s"$q planned a join — samplers must be window-only\n" + p)
    }
  }

  test("q_session_paths: one user-key shuffle reused by session/truncation/collect, bounded collect below the sn-filter") {
    val p = plan("q_session_paths")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2,
      s"expected 2 hash exchanges (user window + path count — sid windows, row_number and the per-session collect must all reuse the user partitioning), got $hashEx\n" + p)
    assert(!p.contains("Exchange rangepartitioning"),
      "top-20 must be TakeOrdered, not a global sort\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "session paths must be window-only\n" + p)
    // hot-key bound: the sn<=8 filter must sit BELOW the collect_list
    // aggregate (plan strings print parents first)
    val aggIdx = p.indexOf("collect_list")
    val fIdx = p.indexOf("Filter")
    assert(aggIdx >= 0 && fIdx >= 0 && aggIdx < fIdx,
      "row_number truncation must run before the per-session collect\n" + p)
  }

  test("Profiler.profile approxDistinct: the per-column Expand pass disappears, exact keeps it") {
    val docs = Tables.documents(spark, sfDir)
    val exact = graft.api.Profiler.profile(docs)
      .queryExecution.executedPlan.toString
    val approx = graft.api.Profiler.profile(docs, approxDistinct = true)
      .queryExecution.executedPlan.toString
    // exact multi-column distincts re-emit the input once per profiled
    // column through an Expand; the HLL++ sketch path must not
    assert(exact.contains("Expand"), "exact profile no longer plans the Expand this test pins\n" + exact)
    assert(!approx.contains("Expand"),
      "approx profile still plans an Expand — the cheap first-pass promise is broken\n" + approx)
    assert("HashAggregate".r.findAllIn(approx).size >= 2,
      "approx profile must stay a two-phase hash aggregate\n" + approx)
    // and the swap changes ONLY the distinct estimator: same shape,
    // same row/null counts
    val e = graft.api.Profiler.profile(docs).orderBy("col_name")
      .select("col_name", "n_rows", "n_nulls").collect().toSeq
    val a = graft.api.Profiler.profile(docs, approxDistinct = true).orderBy("col_name")
      .select("col_name", "n_rows", "n_nulls").collect().toSeq
    assert(e == a, "row/null counts must be identical across modes")
  }

  test("q_sql_tpch_q6: filters pushed to the scan, single-row exchange only; q4: EXISTS becomes a semi join") {
    val p6 = plan("q_sql_tpch_q6")
    // the PushedFilters list prints truncated — match the prefix
    assert(p6.contains("PushedFilters") && p6.contains("GreaterThanOrEqual(l_shipda"), p6)
    assert("Exchange".r.findAllIn(p6).size == 1,
      "Q6 must be scan + partial agg + ONE single-partition exchange\n" + p6)
    assert("HashAggregate".r.findAllIn(p6).size >= 2, p6)
    val p4 = plan("q_sql_tpch_q4")
    assert(p4.contains("LeftSemi"), "EXISTS must rewrite to a LEFT SEMI join\n" + p4)
    assert(!p4.contains("BroadcastNestedLoopJoin") && !p4.contains("CartesianProduct"), p4)
  }

  test("q_pii_scrub: map-side only — sole exchange is the presentation sort") {
    val p = plan("q_pii_scrub")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange (the orderBy), got $exchanges\n" + p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("q_anomaly: one window shuffle + presentation sort, no joins") {
    val p = plan("q_anomaly")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange (the user window), got $hashEx\n" + p)
    assert(rangeEx == 1, s"expected 1 range exchange (the orderBy), got $rangeEx\n" + p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "z-score must be window-only, no join\n" + p)
  }

  test("q_contamination: eval side broadcast — the corpus never shuffles into a join") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join in the contamination probe\n" + p)
  }

  test("q_decontaminate_ngram: gram stream meets the eval side via BROADCAST semi joins only") {
    val p = plan("q_decontaminate_ngram")
    // the prefilter and the exact verify are both broadcast LeftSemi —
    // the corpus-sized gram stream must never shuffle into a join
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "expected 2 broadcast joins\n" + p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_dedup_ngram_jaccard: single-shuffle posting-list plan, no self-join of the shingle stream") {
    val p = plan("q_dedup_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // pairs are emitted INSIDE each posting-list group (a Generate over
    // the checkpointed lists), so the corpus-sized shingle stream is
    // grouped exactly once and never self-joined; the skew guard is the
    // size(ids) filter on the grouped row. The tokenize subtree ends at
    // the localCheckpoint scan — count the exchanges downstream of it:
    // pair-count agg, per-doc size agg, and the presentation sort.
    assert(p.contains("Scan ExistingRDD"), "expected checkpointed posting lists\n" + p)
    assert("SortMergeJoin".r.findAllIn(p).size <= 2, "unexpected extra joins\n" + p)
    // the skew guard must be IN the (pre-checkpoint) aggregation plan:
    // the capped-set aggregate + the size(ids) <= maxShingleDf filter.
    // The checkpoint hides it from the final plan string, so audit the
    // posting-list subplan directly.
    val docs = Tables.documents(spark, sfDir)
    val guarded = graft.api.TextDedup.rawShingles(docs, "doc_id", "text", 3)
      .groupBy("shingle")
      .agg(graft.functions.CappedSetAgg.fn(11)(org.apache.spark.sql.functions.col("id")).as("ids"))
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("ids")) <= 10)
    val gp = guarded.queryExecution.executedPlan.toString
    assert(gp.contains("CappedSetAgg") || gp.contains("cappedsetagg"),
      "capped-set aggregate missing from the guarded posting plan\n" + gp)
    assert(gp.contains("size(ids") && gp.contains("<= 10"),
      "skew-guard size filter missing from the guarded posting plan\n" + gp)
  }
}
