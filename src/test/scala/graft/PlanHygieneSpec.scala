package graft

/** Plan-shape regression guards: the scale promises PLANS.md documents,
  * enforced by spec so a refactor can't silently trade them away. Each
  * test inspects the statically-planned physical tree (the AQE initial
  * plan — what the optimizer committed to before runtime stats). */
class PlanHygieneSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString()

  test("flagship pipeline: exactly two keyed exchanges (pair re-key + window rollup)") {
    val p = plan("q_facility_info_by_minute")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("q_multi_join: every dimension broadcasts, the fact never sort-merges") {
    val p = plan("q_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_tpch_q6: predicates reach the parquet scan and the scan is pruned") {
    val p = plan("q_tpch_q6")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"), p)
    // 4 of 11 lineitem columns read — the widest column must not appear
    assert(!p.contains("l_comment") && !p.contains("l_partkey"), p)
  }

  test("q_scan_project: column pruning reaches ReadSchema") {
    val p = plan("q_scan_project")
    assert(!p.contains("l_comment"), p)
  }

  test("q_bucketed_join: co-located join needs NO join-input exchange") {
    val p = plan("q_bucketed_join")
    // everything BELOW the SortMergeJoin node is its input subtree: both
    // bucketed scans must feed it with no exchange (the post-join agg on
    // a different key legitimately shuffles, above the join)
    val joinSubtree = p.split("SortMergeJoin", 2)
    assert(joinSubtree.length == 2, p)
    assert(!joinSubtree(1).contains("Exchange"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("q_broadcast_join and q_stream-side dims: no shuffle on the probe side") {
    val p = plan("q_broadcast_join")
    assert(p.contains("BroadcastHashJoin") && !p.contains("Exchange hashpartitioning"), p)
  }

  test("q_dedup_embedding: distributed cogroup, nothing collected to the driver") {
    val p = plan("q_dedup_embedding")
    assert(p.contains("CoGroup"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_dedup_exact: one keyed aggregation, partial before the exchange") {
    val p = plan("q_dedup_exact")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_topk_custom plans through the engine's own operator, not a window") {
    val p = plan("q_topk_custom")
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_agg_pushdown: COUNT/MIN/MAX answered from parquet footers, no data read") {
    val p = plan("q_agg_pushdown")
    assert(p.contains("PushedAggregation: [COUNT(*)"), p)
    assert(p.contains("MAX(l_extendedprice)"), p)
  }

  test("q_bloom_join: runtime bloom filter probes the fact scan before the shuffle") {
    val p = plan("q_bloom_join")
    assert(p.contains("might_contain"), p)
    assert(p.contains("bloom_filter_agg"), p)
  }

  test("q_zorder_layout: every 64-cell z-block spans ≤8 buckets in EACH dimension") {
    // the locality guarantee that lets file min/max stats prune BOTH
    // predicates — the entire point of the layout
    val rows = SparkEntry.queries("q_zorder_layout")(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 7, r) // x span within a block
      assert(r.getLong(5) - r.getLong(4) <= 7, r) // y span within a block
    }
  }

  test("q_tpch_q5: every dimension broadcasts — the fact side never sort-merges") {
    val p = plan("q_tpch_q5")
    assert(!p.contains("SortMergeJoin"), p)
    // customer / supplier / nation / region all build broadcast sides
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
  }

  test("q_tpch_q19: disjunctive conjunct groups — common factors pushed to both scans") {
    val p = plan("q_tpch_q19")
    // per-side OR projections reach BOTH scans: the fact scan carries the
    // disjunction of quantity bands, the part scan the brand×size groups —
    // at 100 TB each side's row-group stats prune on its own envelope
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), p)
    assert(p.contains("EqualTo(p_brand,Brand#1)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_tpch_q4: EXISTS plans as a LEFT SEMI hash join with the band residual inside") {
    val p = plan("q_tpch_q4")
    // the equi key stays the hash key; the 30-day lateness predicate is a
    // join residual, not a nested-loop fallback — and the semi form never
    // duplicates an order with many late lines
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the orders date window is pushed to the scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q_tpch_q18: HAVING survivors broadcast back — the fact shuffles once") {
    val p = plan("q_tpch_q18")
    // one shuffle for the per-order quantity rollup; the survivor set and
    // customer both broadcast into orders
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
  }

  test("q_tpch_q7: both snowflake branches broadcast; pair filter stays post-join") {
    val p = plan("q_tpch_q7")
    // supplier→nation and customer→nation resolve broadcast-side; the OR'd
    // nation-pair predicate cannot push below the join and must remain a
    // codegen'd Filter above it
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("NATION_1"), p)
  }

  test("q_tpch_q22: NOT EXISTS decorrelates to LEFT ANTI; the scalar avg broadcasts") {
    val p = plan("q_tpch_q22")
    // the no-orders predicate is a hash anti-join, never a per-row
    // subquery re-scan; the 1-row average rides a broadcast
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_tpch_q15: the revenue view computes from ONE fact shuffle; max joins back broadcast") {
    val p = plan("q_tpch_q15")
    // two aggregations over the same keyed view (the view and its max)
    // may each shuffle the filtered fact once — but nothing shuffles
    // per supplier, and both join-backs broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_tpch_q13: orders pre-aggregate to customer cardinality BELOW the null-preserving outer join") {
    val p = plan("q_tpch_q13")
    // the outer join's right input is the per-customer count relation —
    // the HashAggregate sits in the join subtree, so the join moves
    // #customers rows, not #orders; and the join is genuinely outer
    // (COALESCE keeps the zero-order bucket)
    assert(p.contains("LeftOuter"), p)
    val joinSubtree = p.split("LeftOuter", 2)
    assert(joinSubtree.length == 2 && joinSubtree(1).contains("HashAggregate"), p)
    // the priority exclusion pushes to the orders scan
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"), p)
  }

  test("q_tpch_q17: the per-part AVG threshold broadcasts back — the fact never sort-merges") {
    val p = plan("q_tpch_q17")
    // part filter broadcast into the fact + threshold broadcast-back:
    // three broadcast joins, zero fact-fact merges, and the brand/size
    // predicate reaches the part scan
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("EqualTo(p_brand,Brand#1)"), p)
  }

  test("q_tpch_q21: stacked LEFT SEMI + LEFT ANTI against the checkpointed pair relation") {
    val p = plan("q_tpch_q21")
    // EXISTS → semi, NOT EXISTS → anti, both hash joins on the order key
    // with the <>-supplier residual inside — never a nested-loop; both
    // read the ONE materialized (order, supplier, n_late) relation
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("q_tpch_q8: both nation roles broadcast, segment + region filters reach their scans") {
    val p = plan("q_tpch_q8")
    // nation appears in TWO broadcast subtrees (customer-side region
    // gate and supplier-side share name); the fact never sort-merges;
    // the part-type and region predicates push to the dim scans, not
    // the fact
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 6, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("EqualTo(p_type,ECONOMY)"), p)
    assert(p.contains("EqualTo(r_name,AMERICA)"), p)
  }

  test("q_tpch_q9: the substring part filter pushes to the part scan as StringContains") {
    val p = plan("q_tpch_q9")
    assert(p.contains("StringContains(p_name,red)"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_skyline: dominance runs on the checkpointed candidate union, corpus never re-scanned") {
    val p = plan("q_skyline")
    // the per-partition sweep's candidate set materialized once
    // (localCheckpoint, eager) — the committed dominance plan reads the
    // tiny ExistingRDD on both anti-join sides and never returns to the
    // parquet corpus (the naive formulation computed base three times)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("LeftAnti"), p)
  }

  test("q_knn_join: shuffle carries per-tile top-k, never the n² pairs") {
    val p = plan("q_knn_join")
    assert(p.contains("CoGroup"), p)
    // the rank-limit pushes below the window exchange (partial top-k);
    // with spark.graft.topkRewrite=true the same filter would instead
    // plan through the engine's TopKPerKey heaps (WindowTopKRuleSpec)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_knn_join_cell: pairwise work rides the cell key off the checkpointed index") {
    val p = plan("q_knn_join_cell")
    // n²/nlist, not n²: the mate join is an equi-join on the cell key
    // against the localCheckpoint'ed shared assignment — no cartesian,
    // no assignment nested-loop re-planned per query
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
    // the rank filter prunes below the window exchange (partial top-k)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_knn_join_salted: per-cell tiles cogroup on the salted key, block counts broadcast") {
    val p = plan("q_knn_join_salted")
    // the within-cell pairing is a cogroup on (cell, i, j) — bounded
    // tiles, per-tile top-k — NOT a row-producing equi-join on the bare
    // cell (that single-task shape is exactly what this variant fixes)
    assert(p.contains("CoGroup"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the ≤nlist-row per-cell block-count relation rides a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // the rank filter prunes below the window exchange (partial top-k)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_heavy_hitters: candidate recount joins via broadcast, not a full-term shuffle") {
    val p = plan("q_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hashpartitioning exchanges are the candidate distinct and
    // the candidate-only recount — both bounded by k·P, not vocabulary
    assert(p.contains("MapPartitions"), p)
  }

  test("q_anomaly_zscore: per-type stats broadcast back — no data-sized shuffle") {
    val p = plan("q_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_block_dedup: owner lookup is an equi-join on block text, never nested-loop") {
    val p = plan("q_block_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // only the two columns the operator needs leave the scan
    assert(!p.contains("n_chars"), p)
  }

  test("q_bpe_merges: rules broadcast as 1-row builds; induction never goes cartesian") {
    val p = plan("q_bpe_merges")
    assert(!p.contains("CartesianProduct"), p)
    // every nested loop is a LEFT join against a broadcast 1-row best
    // rule. Count 4: round-2's arm carries one, round-3's carries three
    // (v1 re-plans both as the vocab side and inside b2's lineage) —
    // the self-referencing duplication to persist away on a cluster.
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 4 &&
      "LeftOuter".r.findAllIn(p).size >= 3, p)
  }

  test("q_quality_logit: pure map-side — no join, no keyed shuffle") {
    val p = plan("q_quality_logit")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_semdedup: pairwise work rides the cell key; assignment computes exactly once") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    // the cell assignment is localCheckpoint'ed, so the committed plan
    // holds NO assignment nested-loop at all — every consumer (member
    // table, both mate-join sides, the ledger) reads the materialized
    // checkpoint instead of re-planning the broadcast centroid pass
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2, p)
    // the in-cell mate join and the ledger join stay equi-joins on
    // (cell[, vec_id])
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
  }

  test("q_similarity_ivf: trained centroids materialize once; rerank rides the cell key") {
    val p = plan("q_similarity_ivf")
    assert(!p.contains("CartesianProduct"), p)
    // the trained centroid set is a checkpointed ≤nlist-row relation
    // (training ran exactly once, its chain absent from this plan) and
    // every nested loop is a broadcast against it or the 1-row query
    assert(p.contains("Scan ExistingRDD"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3, p)
    // the probed-cell rerank is an equi-join on cell, never nested-loop
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
  }

  test("q_ann_recall: panel eval — broadcast panel/centroids, equi-join rerank") {
    val p = plan("q_ann_recall")
    assert(!p.contains("CartesianProduct"), p)
    // exact side = corpus × broadcast(panel); probe = panel ×
    // broadcast(centroids); both bounded builds. The approx rerank must
    // reach its candidates through equi-joins (cell, then qid).
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("q_sq_recall: both rankings score corpus × broadcast(panel); top-k prunes pre-shuffle") {
    val p = plan("q_sq_recall")
    assert(!p.contains("CartesianProduct"), p)
    // exact and quantized passes each join the corpus against the
    // bounded broadcast panel — exactly two nested loops, both BuildRight
    assert("BroadcastNestedLoopJoin BuildRight".r.findAllIn(p).size == 2, p)
    // rank<=10 pushes into WindowGroupLimit: each task forwards its own
    // top-k, so the per-qid shuffle carries panel·k·tasks rows, not panel·n
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_lsh_recall: bucket probe is an equi-join on the signature; top-k prunes pre-shuffle") {
    val p = plan("q_lsh_recall")
    assert(!p.contains("CartesianProduct"), p)
    // approx candidates reach each panel query through the bucket =
    // qbucket equi-join against the bounded broadcast panel — at scale
    // the signature is the partition key, never an all-pairs scan
    assert(p.contains("BroadcastHashJoin [bucket#") || p.contains("SortMergeJoin [bucket#"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_ivfsq_recall: candidates ride the cell equi-join; quantized top-k prunes pre-shuffle") {
    val p = plan("q_ivfsq_recall")
    assert(!p.contains("CartesianProduct"), p)
    // compressed-domain rerank still reaches candidates through the
    // probed-cell equi-join over the shared materialized assignment
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_ann_filtered: label filter reaches the scan; candidates ride the cell equi-join") {
    val p = plan("q_ann_filtered")
    assert(!p.contains("CartesianProduct"), p)
    // the metadata predicate is pushed into the parquet scan — at 100 TB
    // the filtered eval reads ~10 % of the corpus bytes, not all of them
    assert(p.contains("EqualTo(label,3)"), p)
    // filtered candidates still reach each query through the probed-cell
    // equi-join; per-(nprobe,qid) top-k prunes before the rank shuffle
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_knn_classify: the electorate rides the salted cell tiles, never an all-pairs scan") {
    val p = plan("q_knn_classify")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // candidate pairs come from the SALTED tiled generator (round 8 —
    // a hot cell spreads over nb² tiles instead of one task), so the
    // pairing plans as a cogroup; labels rejoin on the bounded n·k
    // candidate set; top-10 still prunes pre-shuffle
    assert(p.contains("CoGroup"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_hybrid_search: lexical leg is a token equi-join against the broadcast panel") {
    val p = plan("q_hybrid_search")
    assert(!p.contains("CartesianProduct"), p)
    // candidates reach the fusion through equi-joins only: token for
    // the lexical leg (the inverted-index key at scale), cell for the
    // vector leg — never a corpus×corpus scan
    assert(p.contains("BroadcastHashJoin [tok#") || p.contains("SortMergeJoin [tok#"), p)
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_hybrid_weighted: both lexical legs stay token equi-joins; no corpus cross") {
    // r16: the two lexical legs ride ONE posting join + ONE aggregation,
    // pinned per invocation (Similarity.hybridLexCand) — the checkpoint
    // hides that join from the declared plan, so the token-shape guard
    // moves to the candidate relation itself; the declared plan keeps
    // the cell-leg and top-k guards.
    val cand = operators.Similarity.hybridLexCandPlan(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString()
    assert(!cand.contains("CartesianProduct"), cand)
    // the idf weights ride the panel's broadcast posting lists — the
    // weighted leg must not introduce a corpus-wide join shape beyond
    // the token key
    assert(cand.contains("BroadcastHashJoin [tok#") || cand.contains("SortMergeJoin [tok#"), cand)
    val p = plan("q_hybrid_weighted")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_hybrid_parity: the parity vote changes fusion arithmetic only — same join shapes as w=1") {
    val p = plan("q_hybrid_parity")
    assert(!p.contains("CartesianProduct"), p)
    // token-leg shape guarded on hybridLexCand (shared with
    // q_hybrid_weighted's test above — identical candidate relation)
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_bm25_topk: panel-bounded posting join broadcasts the idf table; top-k is WindowGroupLimit, no cartesian") {
    val p = plan("q_bm25_topk")
    assert(!p.contains("CartesianProduct"), p)
    // the candidate generator: tf ⨝ (panel-token × idf) with the tiny
    // idf table as the broadcast build — the posting side must never
    // sort-merge on the token
    assert(p.contains("BroadcastHashJoin [tok#") || p.contains("BroadcastHashJoin [cast(tok"), p)
    assert(!p.contains("SortMergeJoin [tok#"), p)
    // per-query top-10 as rank pushdown, not a global sort
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_corpus_increment: no cartesian, no forced broadcast of the base side") {
    val p = plan("q_corpus_increment")
    assert(!p.contains("CartesianProduct"), p)
    // the only EXPLICIT broadcast hints are DELTA-sized relations:
    // the shingle-count tables (cntD for the base probe, cntD twice
    // for the r13 within-batch self-join's two sides) and — since the
    // r17 baseScreen pins — the delta's distinct shingle set shD into
    // the pinned base postings (the pinned side carries no size
    // stats, so without the hint the planner would re-shuffle the
    // corpus-sized postings per invocation; the delta side is
    // ingest-window-bounded by contract). Base-side relations are
    // never hinted (they'd shard at 100 TB). Assert the logical plan
    // carries exactly those four ResolvedHints and that the base-side
    // count relation (cntB) is NOT hinted — its rows come from the
    // corpus split.
    val logical = SparkEntry.queries("q_corpus_increment")(spark, sf("sf0.001"))
      .queryExecution.analyzed.toString()
    assert("ResolvedHint".r.findAllIn(logical).size == 4, logical)
  }

  test("neardup above-ceiling: the executed plan broadcasts the PROBE side (BuildLeft), never key-partitions") {
    // NEARDUP_SKEW.json's verdict as a standing guard: above the
    // corpus-broadcast ceiling the gate must keep the tiny per-batch
    // probe side as the broadcast build (skew-immune — pair-emission
    // parallelism follows the corpus's storage partitioning), not fall
    // into a band_key-partitioned SMJ (the measured 3.7× hot-key cliff
    // that AQE makes 3.5× WORSE). A regression here silently
    // reintroduces the cliff at exactly the corpus sizes the ceiling
    // exists for.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val probes = (0L until 4L).map(i => (i, (i % 2).toInt, s"k$i"))
      .toDF("doc_id", "band", "band_key")
    val corpus = spark.range(200000)
      .select((col("id") + 10).as("doc_id"),
        (col("id") % 4).cast("int").as("band"),
        concat(lit("k"), col("id") % 1000).as("band_key"))
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
    try {
      val pairs = graft.streaming.StreamingIndex
        .neardupCandidatePairs(spark, probes, corpus)
      pairs.collect()
      val p = pairs.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(p.contains("BuildLeft"), p)
      assert(!p.contains("SortMergeJoin"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("substring gate above-ceiling: the executed plan broadcasts the PROBE side (BuildLeft)") {
    // the exact tier inherits the NEARDUP_SKEW verdict: above the
    // posting-broadcast ceiling the per-batch probe side must stay the
    // broadcast build — boilerplate-hot grams (the gate's target
    // population) must never key-partition into one task. The shape is
    // estimate-driven BY DESIGN: round-11 advice suggested forcing it
    // with an explicit broadcast(probes) hint, and the round-12 ×10
    // stress refuted that — the probe side is unbounded (gram rows
    // scale with the arrival batch) and the forced broadcast OOM'd the
    // heap on sf1's batches; the planner picking BuildLeft at bounded
    // batch sizes (this pin) and a sharded join on giant ones is the
    // OOM-safe behavior, not a gap.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val probes = (0L until 4L).map(i => (i, s"g$i", i * 7L))
      .toDF("doc_id", "gtext", "h")
    val corpus = spark.range(200000)
      .select((col("id") % 7).as("h"),
        concat(lit("g"), col("id") % 1000).as("gtext"),
        (col("id") + 10).as("doc_id"))
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
    try {
      val pairs = graft.streaming.StreamingIndex
        .substringCandidatePairs(spark, probes, corpus)
      pairs.collect()
      val p = pairs.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p)
      assert(p.contains("BuildLeft"), p)
      assert(!p.contains("SortMergeJoin"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("IVF family: nlist follows the √-law — cells stay √n-sized, broadcast stays capped") {
    // the 100 TB contract (round 11): nlist = ⌈n/stride⌉ grows ∝ √n so
    // celled pairwise work is Σ|cell|² ≈ n·√n (sub-quadratic — the
    // capped-64 law made it n²/64), while the centroid broadcast stays
    // bounded by the hard cap at any corpus size
    for (n <- Seq(1L, 500L, 3200L, 1000000L, 1000000000L, 1000000000000L)) {
      val stride = operators.Similarity.ivfStride(n)
      val nlist = (n + stride - 1) / stride
      // broadcast bound: the cap term n/IvfNlistCap keeps nlist ≤ cap+1
      assert(nlist <= operators.Similarity.IvfNlistCap + 1,
        s"n=$n stride=$stride nlist=$nlist")
      // √-law: below the cap crossover, stride is within 1 of ⌊√n⌋ (or
      // the legacy 50 floor), so the expected cell size is ~√n — the
      // quantity that bounds per-cell pairwise work
      val isqrt = math.sqrt(n.toDouble).toLong
      assert(stride == math.max(50L, math.max(isqrt, n / operators.Similarity.IvfNlistCap)),
        s"n=$n stride=$stride")
    }
    // the cap engages only past n = cap² (≈ 4.3e9 vectors)
    assert(operators.Similarity.ivfStride(1000000000000L) ==
      1000000000000L / operators.Similarity.IvfNlistCap)
    // tiny corpora keep the legacy %50 grid (fixtures + sf oracles pin it)
    assert(operators.Similarity.ivfStride(500L) == 50L)
    assert(operators.Similarity.ivfStride(2000L) == 50L)
    // past the grid the stride tracks ⌊√n⌋ exactly
    assert(operators.Similarity.ivfStride(6400L) == 80L)
    assert(operators.Similarity.ivfStride(1000000L) == 1000L)
  }

  test("durable index family: bucket count follows the √-law — per-bucket volume grows ∝ √n, never linearly") {
    // the round-13 residual closed: NBuckets was a fixed 16, which at
    // a 1e10-doc corpus meant ~6 TB gram buckets. The IVF nlist
    // discipline applied to storage layout: buckets = clamp(⌊√n⌋, 16,
    // 65536), floor keeping small fixtures on the round-13 layout,
    // ceiling bounding bucket-file counts the way IvfNlistCap bounds
    // the centroid broadcast.
    import operators.IndexStore
    for (n <- Seq(0L, 1L, 60L, 256L, 10000L, 1000000L, 10000000000L, 1000000000000L)) {
      val b = IndexStore.nBucketsFor(n)
      assert(b >= IndexStore.MinBuckets && b <= IndexStore.MaxBuckets, s"n=$n b=$b")
      val isqrt = math.sqrt(n.toDouble).toLong
      assert(b == math.min(IndexStore.MaxBuckets.toLong,
        math.max(IndexStore.MinBuckets.toLong, isqrt)).toInt, s"n=$n b=$b")
    }
    // tiny crafted fixtures stay on the 16-bucket floor; the sf dirs
    // sit just past the 16² = 256-doc crossover (500 docs → 22)
    assert(IndexStore.nBucketsFor(60) == 16)
    assert(IndexStore.nBucketsFor(500) == 22)
    // past the floor the count tracks ⌊√n⌋ exactly; the ceiling
    // engages only past n = 65536² ≈ 4.3e9 docs
    assert(IndexStore.nBucketsFor(1000000) == 1000)
    assert(IndexStore.nBucketsFor(10000000000L) == 65536)
  }

  test("durable index buckets: the √-law value actually reaches the table DDL and displaces the old layout") {
    import spark.implicits._
    // a 300-doc corpus sits past the 16² floor crossover (√300 = 17):
    // the built table must carry 17 buckets — proving the law threads
    // through ensure() and not just the constant — and the layout
    // stamp must have displaced any prior build
    val docs = (0L until 300L).map { i =>
      val t = (0 until 8).map(j => s"bk${i}_$j").mkString(" ")
      (i, t, "en", "s", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = fixtureDir("documents" -> docs)
    graft.operators.IndexStore.durableGramIndex(spark, dir).count()
    val tbl = Some("graft_gram_idx_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12))
    assert(spark.table(tbl.get).select("doc_id").distinct().count() == 300L)
    val ddl = spark.sql(s"SHOW CREATE TABLE ${tbl.get}").collect()(0).getString(0)
    assert(ddl.contains("INTO 17 BUCKETS"), ddl)
  }

  test("PQ family: codebook size is size-independent — stride pins the broadcast side") {
    // same contract as nlist: the per-subspace codebook (and hence the
    // broadcast ADC table) must not grow with the corpus
    for (n <- Seq(1L, 500L, 3200L, 1000000L, 1000000000L, 1000000000000L)) {
      val stride = operators.ProductQuant.pqStride(n)
      val k = (n + stride - 1) / stride
      assert(k <= operators.ProductQuant.PqK + 1, s"n=$n stride=$stride k=$k")
    }
    assert(operators.ProductQuant.pqStride(500L) == 50L)
  }

  test("q_ivfpq_recall: ADC candidates ride the probed-cell equi-join over both cached indexes") {
    val p = plan("q_ivfpq_recall")
    assert(!p.contains("CartesianProduct"), p)
    // codes ⋈ cells ⋈ probed must be equi-joins; both index relations
    // are the session-cached checkpoints (no retraining in this plan)
    assert(p.contains("SortMergeJoin [cell#") || p.contains("BroadcastHashJoin [cell#"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("IVF family: ONE training chain per (session, corpus) — the shared index") {
    // build-once/probe-many is the index lifecycle a 100 TB deployment
    // has; eight consumers retraining eight times would misstate the
    // cost model 8×. trainRuns counts trainedCentroids executions.
    Pins.clear("ivf")
    val before = operators.Similarity.trainRuns.get()
    for (q <- Seq("q_similarity_ivf", "q_ann_recall", "q_ivf_cell_stats",
        "q_ivfsq_recall", "q_semdedup", "q_index_persist", "s_vector_ingest",
        "s_ann_serve", "q_ivfpq_recall", "q_ivfpq_rerank"))
      SparkEntry.queries(q)(spark, sf("sf0.001"))
        .write.format("noop").mode("overwrite").save()
    assert(operators.Similarity.trainRuns.get() == before + 1)
  }

  test("q_index_refresh: frozen assignment is one broadcast pass over a checkpointed index") {
    val p = plan("q_index_refresh")
    assert(!p.contains("CartesianProduct"), p)
    // the frozen index is a checkpointed relation (no second training
    // chain in this plan); the only nested loops are the arrival
    // assignment against the ≤nlist broadcast and the 1-row × 1-row
    // health summary cross
    assert(p.contains("Scan ExistingRDD"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
  }

  test("q_index_persist: summary reads the LOADED parquet store, not the training chain") {
    val p = plan("q_index_persist")
    assert(!p.contains("CartesianProduct"), p)
    // both summary sides scan the persisted store (centroids + cells
    // parquet), and no assignment nested-loop appears — the chain ran
    // at save time, not in this read-side plan
    assert("Scan parquet".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      "BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("near-dup gate: ONE band-index build per (session, corpus)") {
    // the admission gate probes a pre-built corpus sketch; rebuilding it
    // per gate query would re-hash the corpus every time (the md5 analog
    // of the IVF retrain-per-query shape round 5 eliminated)
    Pins.clear("band:")
    val before = operators.Dedup.bandBuilds.get()
    for (_ <- 1 to 2)
      SparkEntry.queries("s_neardup_gate")(spark, sf("sf0.001"))
        .write.format("noop").mode("overwrite").save()
    assert(operators.Dedup.bandBuilds.get() == before + 1)
  }

  test("Pins.checkpoint: a pin carries its measured row count and row bytes, so the planner broadcasts it") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions.col
    // a self-join's origin estimate multiplies its sides (hundreds of
    // MiB for these 1,500 rows); the pin must carry what it holds
    val orders = Tables.orders(spark, sf("sf0.001"))
    val pin = Pins.checkpoint(orders.join(orders.select(col("o_orderkey")), "o_orderkey"))
    val n = pin.count()
    val stats = pin.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(n)), stats)
    val rowBytes = pin.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).fold(0L)(_ + _)
    assert(stats.sizeInBytes == BigInt(rowBytes), stats)
    // an unhinted join of a relation over the threshold (the 160 MB
    // range estimate) against the pin broadcasts the pin at the
    // default threshold
    assert(org.apache.spark.sql.GraftColumnBridge.broadcastThreshold(spark) == 10L << 20)
    val planned = spark.range(0, 20000000).join(pin, col("id") === col("o_orderkey"))
      .queryExecution.sparkPlan
    val bhj = planned.collectFirst { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(_.buildSide == BuildRight), planned.toString)
    assert(planned.collectFirst { case j: SortMergeJoinExec => j }.isEmpty, planned.toString)
  }
}
