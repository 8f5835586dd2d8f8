package graft

/** Pins the scale-critical PHYSICAL PLAN shapes, not just results — the
  * properties that decide whether a query survives a 100× scale-up: no
  * accidental cartesian products, filters pushed to the parquet scan,
  * columns pruned, map-side partial aggregation, broadcast dimension
  * joins, top-k as TakeOrderedAndProject. A refactor that silently turns
  * an equi-join back into a nested loop fails here before it ever reaches
  * a benchmark.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  test("q36 banded near-dup plans equi-joins only — no cartesian, no nested loop") {
    val p = plan("q36_embed_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q65 SimHash near-dup: each pair from its lowest colliding band, no dedup aggregate, the band exchange built once") {
    val df = q("q65_simhash_neardup")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the final adaptive plan, read after execution: the second join side
    // reuses the first side's (band, nib) exchange, so the corpus is
    // tokenized and SimHashed by one projection
    df.collect()
    val fin = df.queryExecution.executedPlan
      .asInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
      .executedPlan.toString
    assert(fin.contains("ReusedExchange"), fin)
    assert(fin.linesIterator.count(l => l.contains("Project [") && l.contains("simhash16(")) === 1, fin)
  }

  test("q256 pHash dedup: the band join emits each pair once; only the mates aggregate remains") {
    val p = plan("q256_phash_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the mates groupBy's partial and final aggregate; the pair distinct's
    // two are gone
    assert(count(p, "HashAggregate") === 2, p)
  }

  test("q47 IVF: only the broadcast pivot assignment may nest-loop; neighbor join is equi") {
    val p = plan("q47_ivf_ann")
    assert(!p.contains("CartesianProduct"), p)
    // The deliberate exception: the O(n·64) assignment cross against the
    // broadcast constant-size pivot table, once per self-join side.
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(bnlj.size <= 2, p)
    // Neighbor search must join on the cell key, not filter a cross.
    assert(p.contains("Join [cell_id") || p.contains("Join [coalesce(cell_id"), p)
  }

  test("q100 interval join bins to an equi-join — no nested-loop range join") {
    val p = plan("q100_interval_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q101 semantic dedup: cell pair join is equi; only pivot assignment nest-loops") {
    val p = plan("q101_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(bnlj.size <= 2, p)
  }

  test("q99 bloom probe joins against broadcast bit/bench sets only") {
    val p = plan("q99_bloom_filter")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q30 Jaccard and the minhash candidate joins are blocked equi-joins") {
    // the family stages BOTH the candidate list and the hashed-set table
    // through parquet, so the band join lives in candJoin's plan and the
    // verify joins in verifiedPairs' — pin each generator plan directly
    val cands = graft.operators.Dedup.candJoin(spark, sf)
      .queryExecution.executedPlan.toString
    val pairs = graft.operators.Dedup.verifiedPairs(spark, sf)
      .queryExecution.executedPlan.toString
    for ((name, p) <- Seq(
        "q30_jaccard_pairs" -> plan("q30_jaccard_pairs"),
        "candJoin" -> cands, "verifiedPairs" -> pairs)) {
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
    }
    // the band self-join and both verify joins hash-probe rather than
    // sort the candidate mass (the at-scale plan; sorting it twice
    // doubled the 10x-scale runtime, BENCH_SF1.md)
    assert(count(cands, "ShuffledHashJoin") >= 1, cands)
    assert(!cands.contains("SortMergeJoin"), cands)
    assert(count(pairs, "ShuffledHashJoin") >= 2, pairs)
    assert(!pairs.contains("SortMergeJoin"), pairs)
    // and the verify joins read the STAGED artifacts, not a re-derivation
    assert(pairs.contains("graft_mh_cands"), pairs)
    assert(pairs.contains("graft_mh_hs"), pairs)
  }

  test("q37 consumes the STAGED pair list: one leaf scan, no recomputation") {
    // the degree union references pairs twice; both references must read
    // the scratch parquet (two scans of the staged file, zero re-runs of
    // the minhash pipeline — the round-6 fix for the 98.9s anomaly)
    val p = plan("q37_minhash_neardup")
    assert(count(p, "graft_mh_pairs") >= 2, p)
    // all hashing happened at staging time — none survives in this plan
    assert(!p.contains("md5("), p)
  }

  test("q80 sketch builds from ONE orders scan (posexplode), probes with one join") {
    val p = plan("q80_countmin")
    // exactly 2 scans of orders total: sketch side + exact-truth side
    // (the round-4 shape re-read the table once per hash row)
    assert(count(p, "orders\\.parquet") === 2, p)
    assert(p.contains("Generate posexplode"), p)
  }

  test("q72 picks its fixed-count audit sample as a top-k, not a global sort") {
    val p = plan("q72_ann_recall")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q79 fuzzy match verifies through a broadcast equi-join, never a nested loop") {
    val p = plan("q79_fuzzy_match")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q138 triangle wedges and closure are equi-joins — no cartesian on the edge mass") {
    val p = plan("q138_triangle_count")
    assert(!p.contains("CartesianProduct"), p)
    // exactly the three single-ROW aggregate combines may nest-loop; the
    // wedge self-join and the closure probe must stay keyed joins
    assert(count(p, "BroadcastNestedLoopJoin") === 3, p)
  }

  test("q132 bottom-k compaction plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q132_rank_sketch")
    // per-partition top-k then merge — k rows per partition cross the
    // exchange, never the table
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01 scan pushes the shipdate filter and prunes to the 6 needed columns") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), p) // untouched columns never reach the scan
  }

  test("q01 aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), p)
    // exactly one data shuffle (the group-by); the sort exchange is on the
    // 6-row aggregate
    assert(count(p, "Exchange hashpartitioning") === 1, p)
  }

  test("q18 star join broadcasts all four dimensions; the fact side never shuffles") {
    val p = plan("q18_star_join_revenue")
    assert(count(p, "BroadcastHashJoin") === 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q09 top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q09_notin_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q66 bucketed join: sort-merge join with NO exchange on either fact side") {
    // q66 itself materializes-then-cleans-up; pin the plan of the lazy join
    val (agg, cleanup) = graft.operators.Storage.bucketedJoinLazy(spark, sf)
    try {
      val p = agg.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      // the only shuffle is the tiny per-priority aggregate — the join reads
      // bucket-aligned inputs directly
      assert(count(p, "Exchange hashpartitioning") === 1, p)
      assert(p.contains("SelectedBucketsCount"), p)
    } finally cleanup()
  }

  test("q67 partitioned layout: the status filter prunes partitions, not rows") {
    val p = plan("q67_partition_prune")
    assert(p.contains("PartitionFilters"), p)
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*o_orderstatus[^\\]]*\\].*"), p)
    // the filter is resolved against the listing — no data-filter remains
    assert(!p.contains("PushedFilters: [IsNotNull(o_orderstatus)"), p)
  }

  test("q97 range-clustered scan pushes the date filter to the parquet reader") {
    // the pushed filter is what engages per-rowgroup min/max skipping on
    // the shipdate-clustered files — the point of the layout
    val p = plan("q97_sorted_layout")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q116 z-ordered scan pushes BOTH column filters to the parquet reader") {
    // both range predicates must reach the reader — that is what engages
    // rowgroup min/max skipping on the two z-clustered columns at once.
    // The default 100-char metadata truncation would cut the PushedFilters
    // list mid-predicate; widen it for this assertion only.
    val key = "spark.sql.maxMetadataStringLength"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try {
      val p = plan("q116_zorder_layout")
      val pushed = p.linesIterator.find(_.contains("PushedFilters")).mkString
      for (pred <- Seq(
          "GreaterThanOrEqual(l_partkey,50)", "LessThanOrEqual(l_partkey,150)",
          "GreaterThanOrEqual(l_suppkey,5)", "LessThanOrEqual(l_suppkey,15)"))
        assert(pushed.contains(pred), pushed)
    } finally spark.conf.set(key, prev)
  }

  test("q115 bloom probe is a broadcast join — the fact side never shuffles to test membership") {
    val p = plan("q115_bloom_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // both the bit-set probe and the exact-audit join broadcast; the only
    // shuffles are the per-order k_hit aggregate and the final summary
    assert(count(p, "BroadcastHashJoin") >= 2, p)
  }

  test("q121 fact scan carries a DYNAMIC pruning expression from the dim filter") {
    // the dim's `closed` filter must reach the fact scan as a runtime
    // partition-pruning subquery — the whole point of DPP
    val p = plan("q121_dynamic_prune")
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q107 grid spatial join is a broadcast equi-join on cell keys — never a cross-distance filter") {
    val p = plan("q107_grid_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q106 PageRank iterations are keyed equi-joins over the staged edge list") {
    val p = plan("q106_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // top-10 must not globally sort the rank table
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q261 personalized PageRank keeps q106's shape: equi-joins only, O(k) top-10") {
    val p = plan("q261_personalized_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q262 HITS: score joins keyed, renorm scalars broadcast, O(k) tops") {
    val p = plan("q262_hits")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins allowed are the 1-row renorm broadcasts
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q109 SCD2 runs both windows on ONE shuffle — same partitioning, no join") {
    val p = plan("q109_scd2")
    assert(!p.contains("Join"), p)
    // one exchange for the window partitioning, one for the final sort
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("rank-filter windows get the WindowGroupLimit pushdown") {
    // row_number()<=k filters must prune per-partition before the shuffle
    // (Spark's WindowGroupLimit), or every window carries all rows.
    for (name <- Seq("q17_topk_per_group", "q47_ivf_ann", "q91_latest_per_key",
        "q84_source_cap", "q133_grouped_rank_sketch")) {
      val p = plan(name)
      assert(p.contains("WindowGroupLimit"), s"$name:\n$p")
    }
  }

  test("q145 attribution is ONE window pass: a single user shuffle, no self-join") {
    val p = plan("q145_attribution")
    // one data shuffle (by user_id for the window); the final orderBy is a
    // rangepartitioning exchange, not a hash one
    assert(count(p, "Exchange hashpartitioning") === 1, p)
    assert(!p.contains("Join"), p) // the naive form self-joins events×events
  }

  test("q180 rolling MAU never joins the event stream — aggregates and a broadcast span only") {
    val p = plan("q180_rolling_mau")
    // the naive rolling-distinct form self-joins 7 days of events per day;
    // this plan's only join is the 1-row span broadcast for the hi cap
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q184 bitmap intersection joins bitmap WORDS, not event rows") {
    val p = plan("q184_bitmap_index")
    assert(!p.contains("CartesianProduct"), p)
    // the word-keyed self-join must sit ABOVE the bitmap aggregate: a
    // partial_bit_or before any join exchange proves events reduce to
    // words first
    val aggIdx = p.indexOf("partial_bit_or")
    assert(aggIdx >= 0, p)
  }

  test("q189 kNN graph BUILD: top-5 ranking gets WindowGroupLimit; candidate and verify joins are equi only") {
    // The build is staged (shared by q189/q246), so the rank window lives
    // in the BUILD plan, not the post-stage read plan q189 executes.
    val p = operators.Similarity.knnGraphBuild(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q189 kNN graph READ: staged-scan + degree agg stays nested-loop-free") {
    val p = plan("q189_knn_graph")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q234 pipeline composition: no cartesians beyond the 1-row quota broadcast; reads the staged label leaf") {
    val p = plan("q234_pipeline_e2e")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop allowed is the 1-row total-weight broadcast
    // cross (the q103 quota shape)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(bnlj.size <= 1, p)
  }

  test("q254 semantic decontam: only the broadcast pivot assignment nest-loops; the flag join is cell-equi") {
    val p = plan("q254_semantic_decontam")
    assert(!p.contains("CartesianProduct"), p)
    // the eval-side assignment is the one allowed broadcast cross (the
    // ivfIndex contract); the train-side flags come from the staged
    // home-cell leaf through the cell equi-join, never re-assigned
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(bnlj.size <= 1, p)
  }

  test("q271 audio fingerprint: the landmark probe is a hash equi-join — no cartesian, no nested loop") {
    val p = plan("q271_audio_fingerprint")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q274 matryoshka audit: only the broadcast sample may nest-loop; winners via WindowGroupLimit") {
    val p = plan("q274_matryoshka_audit")
    assert(!p.contains("CartesianProduct"), p)
    // the q31/q72 contract: the sample×corpus scan is the audit's declared
    // cost and rides a BROADCAST nested loop (bounded side ≤ recallSampleN)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.nonEmpty && bnlj.forall(l =>
      l.contains("BuildRight") || l.contains("BuildLeft")), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q278 passage retrieval: scoring probes broadcast term/stat sets; top-3 via WindowGroupLimit; no cartesians") {
    val p = plan("q278_passage_retrieval")
    assert(!p.contains("CartesianProduct"), p)
    // only the 1-row stats attach may nest-loop (a broadcast cross)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(bnlj.size <= 1, p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q263 k-center round update: vec_id equi-join; the new center is a plan literal, never a join side") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(0L, 1L)), (2L, Seq(2L, 3L))).toDF("vec_id", "qv")
    val mind = Seq((1L, 5L), (2L, 7L)).toDF("vec_id", "d")
    val p = operators.Similarity.kcenterRoundUpdate(vecs, mind, Seq(1L, 1L))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q258 harmonic centrality: top-10 plans as TakeOrderedAndProject; no cartesians over the staged register rounds") {
    val p = plan("q258_harmonic_centrality")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q235 delta dedup: only the broadcast pivot assignment nest-loops; the cell join is equi") {
    val p = plan("q235_delta_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    // assignment crosses on the DELTA side only — the corpus side is the
    // staged home-cell leaf, never re-assigned. Two references to the
    // probed frame (match join + home-cell readout) each recompute the
    // O(batch·C) broadcast cross — the ivfIndex contract: cheaper than
    // persisting batch·(dim+ids) through a cache, and batch-sized either
    // way.
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(bnlj.size <= 2, p)
    assert(p.contains("Join [cell_id") || p.contains("cell_id#"), p)
  }

  test("q237 winnowing selects fingerprints in ONE window pass — no join at all") {
    val p = plan("q237_winnow_fingerprints")
    // the naive argmin form joins grams back to per-window minima; the
    // packed-key plan needs only the final per-doc audit joins (left
    // joins to documents), never a gram-level self-join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("q238 winnowing pairs: the posting self-join is an equi-join on the fingerprint hash") {
    val p = plan("q238_winnow_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q239 b-bit audit reads the STAGED candidate/set leaves — no minhash recomputation") {
    val p = plan("q239_bbit_minhash")
    // staging means the plan contains NO md5 over tokens: the signatures
    // derive from the staged hashed sets by XOR-min alone
    assert(!p.contains("md5"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q257 betweenness: forward and backward passes are equi-joins — no cartesian ever touches the staged levels") {
    val p = plan("q257_betweenness")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q259 hybrid retrieval: sparse-leg candidates ride equi-joins; only the IVF pivot assignment may nest-loop") {
    val p = plan("q259_hybrid_retrieval")
    assert(!p.contains("CartesianProduct"), p)
    // the q47 exception, inherited by the dense leg: the O(n·64)
    // assignment cross against the broadcast constant-size pivot table
    // (once per side of the probe join), plus the sparse leg's 1-row
    // broadcast corpus-stats cross
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(bnlj.size <= 3, p)
  }

  test("q280 walk corpus: every step is a node-keyed equi-join — no cartesian, no nested loop") {
    val p = plan("q280_walk_corpus")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q286/q287: only the declared broadcast-bounded nested loops (pivot assignment, sample set, anchor complement)") {
    Seq("q286_triplet_mining", "q287_silhouette_sampled").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: $p")
      val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      // every nested loop must be either a declared broadcast cross
      // (pivot assignment / sample set) or q286's easy-negative
      // complement join — a NON-equi probe of the corpus against the
      // broadcast 16-anchor set (bounded by |anchors|, by design)
      assert(bnlj.forall(l => l.contains("Cross") || l.contains("a_cell")),
        s"$name: $p")
      assert(bnlj.size <= 4, s"$name: ${bnlj.size} nested loops\n$p")
    }
  }

  test("q291 exact-substring: the benchmark position list broadcasts onto the seed join; best-run pick is group-limited; nothing doc×doc") {
    val p = plan("q291_exact_substring")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the seed match is a broadcast hash join on the 8-gram hash
    assert(count(p, "BroadcastHashJoin") >= 1, p)
    // rn=1 best-run selection prunes per-doc before the final shuffle
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q292 multi-touch: NO join of any kind — the credit rollup is one window pass + explode + aggregate") {
    val p = plan("q292_multi_touch")
    // the scale claim the Scaladoc makes: no conversion×touch pair
    // expansion means no join operator anywhere in the plan
    assert(!p.contains("Join"), p)
    assert(count(p, "Window") >= 1, p)
    assert(p.contains("Generate"), p) // the per-channel explode
  }

  test("q293 curriculum: only the declared broadcast crosses (two 1-row totals, the 3-row epoch frame)") {
    val p = plan("q293_curriculum")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(bnlj.size <= 3, s"${bnlj.size} nested loops\n$p")
  }

  test("q297 Shapley: the corpus window pass runs ONCE — the coalition table is localized, not re-derived per consumer") {
    val p = plan("q297_shapley_attribution")
    assert(!p.contains("CartesianProduct"), p)
    // the localized 8-row v table removes the corpus window pass from
    // the final plan entirely (it ran once, during the bounded collect);
    // the single surviving window is the 3-row remainder rank
    assert(count(p, "windowspecdefinition") === 1, p)
    assert(!p.contains("n_view") && !p.contains("events"), p)
  }

  test("q301 RFM: customer-level windows only — no join back to the order stream") {
    val p = plan("q301_rfm_segments")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop is the 1-row max-date broadcast cross
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p)
  }

  test("q302 association rules: the basket self-join is the pinned shuffle-hash exchange; item counts broadcast back") {
    val p = plan("q302_assoc_rules")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p) // 1-row nb
    assert(p.contains("ShuffledHashJoin"), p)
    assert(count(p, "BroadcastHashJoin") >= 2, p)
  }

  test("q316 sequence mining: user-keyed equi-joins only — no cartesian; the lone nested loop is the 1-row n_users broadcast cross") {
    val p = plan("q316_seq_patterns")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 2, p)
  }

  test("q321 gap patterns: no user×user expansion — two chained window passes on one user-partitioned sort; the only nested loop is the 1-row n_users cross") {
    val p = plan("q321_seq_patterns_gap")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p)
    // both passes ride the SAME [user, ts] sort — exactly one exchange
    // feeding the window chain, never an event self-join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(count(p, "Window") >= 2, p)
  }

  test("q318 time-decay: NO join of any kind — 21 gap-frame window counts on one user-partitioned sort, then explode + rollup") {
    val p = plan("q318_time_decay")
    // the scale claim: no purchase × touch pair expansion anywhere
    assert(!p.contains("Join"), p)
    assert(count(p, "Window") >= 1, p)
    assert(p.contains("Generate"), p) // the per-channel explode
  }

  test("q307 ACF: the month rollup is STAGED — the final plan never scans orders; only 1-row crosses and the bounded lag pair join") {
    val p = plan("q307_acf")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus rollup ran ONCE into the scratch leaf; every self-join
    // branch reads the ≤hundreds-row leaf, not the order stream
    assert(!p.contains("orders"), p)
    // the (n, mu) stats row and (den, n_months) row are 1-row crosses;
    // the lag pair join is the range condition on the deviation frame
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(l => l.contains("Cross") || l.contains("m1")), p)
    assert(bnlj.size <= 8, s"${bnlj.size} nested loops\n$p")
  }

  test("q319 AR fit: corpus work is the memoized staged month leaf consumed by a bounded collect — the final plan is a local relation, no orders scan, no join") {
    val p = plan("q319_ar_forecast")
    // the ONE corpus aggregate ran into the shared monthlyFrame leaf
    // (q307/q313's), collected calendar-bounded; the recurrence output
    // is a driver-built local table — nothing distributed remains
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
  }

  test("q323 Ljung-Box: like q319, all corpus work is the staged month leaf — the final plan is a local relation, no orders scan, no join") {
    val p = plan("q323_ljung_box")
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
  }

  test("q351 MA fit: like q319, all corpus work is the staged month leaf; the innovations triangle is 78 driver-side fixed-point steps — local relation, no orders scan, no join") {
    val p = plan("q351_ma_forecast")
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
  }

  test("q355 ARMA: like q319/q351, all corpus work is the staged month leaf; both Hannan-Rissanen stages run driver-side — local relation, no orders scan, no join") {
    val p = plan("q355_arma_forecast")
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
  }

  test("q324 decomposition: windows and rollups run ON the staged calendar-bounded leaf — no orders scan, no cartesian, the seasonal join broadcasts") {
    val p = plan("q324_classical_decomp")
    assert(!p.contains("orders"), p)
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p)
    assert(count(p, "Window") >= 1, p)
  }

  test("q325 Mann-Kendall: the pair join is on the staged leaf; the output is a local relation — no orders scan in the final plan") {
    val p = plan("q325_mann_kendall")
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
  }

  test("q326 changepoint: staged leaf + driver split scan — local relation, no orders scan, no join") {
    val p = plan("q326_changepoint")
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
  }

  test("q327 strengths: one aggregate over the shared decomposition frame — no orders scan, no cartesian") {
    val p = plan("q327_strength_measures")
    assert(!p.contains("orders"), p)
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p)
  }

  test("q328 bootstrap: all 64 replicates ride ONE map-side aggregate synced to a 1-row local relation — no join, no per-replicate pass") {
    val p = plan("q328_poisson_bootstrap")
    // the output column n_orders contains the table name — pin on the
    // absence of any scan instead (the agg ran during the 1-row sync)
    assert(!p.contains("FileScan"), p)
    assert(!p.contains("Join"), p)
  }

  test("q308 CUPED: the corpus aggregate is STAGED — the final plan reads the per-user leaf, never the event stream") {
    val p = plan("q308_cuped")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("events"), p)
    // the one cross is the 1-row (theta, shift) moments broadcast
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p)
  }

  test("q322 power/MDE: corpus work is the shared memoized cuped leaf consumed by an arm-bounded rollup — the final plan is a local relation, no events scan, no join") {
    val p = plan("q322_power_mde")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q329 Mann-Whitney: corpus work is the shared memoized cuped leaf reduced to a 1-row sync — local relation, no events scan, no join") {
    val p = plan("q329_mann_whitney")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q330 log-rank: corpus work is the shared staged survival leaf; risk sets ride ONE calendar-bounded window sort — no orders scan, no join") {
    val p = plan("q330_log_rank")
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
    assert(count(p, "Window") >= 1, p)
  }

  test("q331 SRM: one rollup over the shared staged leaf — no events scan, no join") {
    val p = plan("q331_srm_audit")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Expand") || p.contains("rollup") ||
      count(p, "HashAggregate") >= 1, p)
  }

  test("q332 delta ratio: corpus work is the shared leaf reduced to a 2-row driver sync — local relation, no events scan, no join") {
    val p = plan("q332_delta_ratio")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q333 BH-FDR: one distinct-pair pass; the only cross is the 1-row totals broadcast; BH runs on taxonomy-bounded windows") {
    val p = plan("q333_bh_fdr")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p)
    assert(count(p, "Window") >= 1, p)
  }

  test("q334 MMR: the greedy ran on the constant-M pool collected driver-side — the final plan is a local relation, no embeddings scan, no join") {
    val p = plan("q334_mmr_select")
    assert(!p.contains("embeddings"), p)
    assert(!p.contains("Join"), p)
  }

  test("q335 winsorized mean: corpus work is the shared leaf reduced through value-bounded windows to a 1-row sync — local relation, no events scan") {
    val p = plan("q335_winsorized_mean")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q336 jackknife: corpus work is the shared leaf reduced to a bucket-bounded sync — local relation, no events scan, no join") {
    val p = plan("q336_jackknife_ratio")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q337 OBF looks: one corpus aggregate against the broadcast cutoffs, synced as a look-bounded rollup — local relation, no events scan in the final plan") {
    val p = plan("q337_obf_sequential")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q338 Gopher rules: a stateless projection — one scan, no shuffle beyond the output sort, no join, no aggregate") {
    val p = plan("q338_gopher_rules")
    assert(!p.contains("Join"), p)
    assert(count(p, "Exchange") <= 1, p) // the ORDER BY only
    assert(!p.contains("HashAggregate"), p) // row-local rules, no state
    assert(count(p, "FileScan") === 1, p)
  }

  test("q339 Neyman: one stratum aggregate synced taxonomy-bounded — local relation, no documents scan, no join") {
    val p = plan("q339_neyman_allocation")
    assert(!p.contains("documents"), p)
    assert(!p.contains("Join"), p)
  }

  test("q341 priority sample: the corpus pass is top-(k+1) via TakeOrderedAndProject — no global sort, no join; everything after runs on k+1 rows") {
    val p = plan("q341_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("q342 OLS Cramer: one moment pass over the shared leaf to a 1-row sync — local relation, no events scan, no join") {
    val p = plan("q342_ols_cramer")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q343 PCA: one flatten-explode covariance pass synced 64²-bounded — local relation, no embeddings scan, no join in the final plan") {
    val p = plan("q343_pca_power")
    assert(!p.contains("embeddings"), p)
    assert(!p.contains("Join"), p)
  }

  test("q352 PCA spectrum: the shared covariance sync once, three iterations + two deflations driver-side — local relation, no embeddings scan, no join") {
    val p = plan("q352_pca_spectrum")
    assert(!p.contains("embeddings"), p)
    assert(!p.contains("Join"), p)
  }

  test("q344 DP budget: one per-(user, type) reduce into value-bounded histograms — no join beyond none, windows partitioned by type") {
    val p = plan("q344_dp_budget")
    assert(!p.contains("Join"), p)
    assert(count(p, "Window") >= 1, p)
    assert(count(p, "FileScan") === 1, p)
  }

  test("q345 quantile effects: shared leaf → one ordered histogram carrying both arms' cumulatives — no events scan, no join") {
    val p = plan("q345_quantile_effects")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
    assert(count(p, "Window") >= 1, p)
  }

  test("q346 covariate balance: one wide moment pass over the shared leaf to a 1-row sync — local relation, no events scan, no join") {
    val p = plan("q346_covariate_balance")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q347 DiD: shared leaf to a 2-row arm sync — local relation, no events scan, no join") {
    val p = plan("q347_diff_in_diff")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q348 RDD: one banded scan with the per-customer counts joined once, synced 2-row — local relation, no scans or joins in the final plan") {
    val p = plan("q348_reg_discontinuity")
    assert(!p.contains("customer"), p)
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
  }

  test("q349 IV/Wald: shared leaf to a 2-row arm sync — local relation, no events scan, no join") {
    val p = plan("q349_iv_wald")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q350 propensity stratification: corpus work is the shared leaf through a value-bounded median histogram to a stratum-bounded cell sync — local relation, no events scan, no join") {
    val p = plan("q350_propensity_strat")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q363 isotonic calibration: the shared margin table reduced to the bucket-bounded sync, minimax fit driver-side — local relation, no documents scan, no join") {
    val p = plan("q363_nb_isotonic")
    assert(!p.contains("documents"), p)
    assert(!p.contains("Join"), p)
  }

  test("q364 MDE advisor: one per-user rollup to a 1-row sync, sizing arithmetic driver-side — local relation, no events scan, no join") {
    val p = plan("q364_mde_advisor")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q367 EB shrinkage: one per-supplier rollup, one 1-row moment sync, posterior as a broadcast-literal projection — output distributed, no join, no cartesian") {
    val p = plan("q367_eb_shrinkage")
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q366 CMH test: the shared exposure frame cut by a value-bounded y-median histogram to the stratum-bounded 2x2 sync — local relation, no events scan, no join") {
    val p = plan("q366_cmh_test")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q365 Wilson intervals: one map-side-combinable rollup to the dow-bounded sync, interval algebra driver-side — local relation, no scan, no join") {
    val p = plan("q365_wilson_intervals")
    // the output column n_events would false-positive a bare
    // "events" check — pin the absence of any file scan instead
    assert(!p.contains("parquet"), p)
    assert(!p.contains("Join"), p)
  }

  test("q362 Nelson-Aalen: fully distributed — calendar-bounded window cumsums over the shared survival leaf with a codegen'd corrected floor-sqrt, no cartesian beyond the 1-row total cross") {
    val p = plan("q362_nelson_aalen")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
  }

  test("q361 Greenwood bands: the shared survival leaf reduced to the calendar-bounded histogram sync, fold driver-side BigInt — local relation, no orders scan, no join") {
    val p = plan("q361_km_greenwood")
    assert(!p.contains("orders"), p)
    assert(!p.contains("Join"), p)
  }

  test("q359 Neyman CI: the identical exposure frame as q350 with one more moment in the same cell rollup, estimator on the stratum-bounded sync — local relation, no events scan, no join") {
    val p = plan("q359_neyman_ci")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q353 UCB replay: ONE (day, arm) corpus rollup synced calendar-bounded; the replay recursion is driver-side — local relation, no events scan, no join") {
    val p = plan("q353_ucb_replay")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q354 AIPW: the shared exposure frame reduced to a stratum-bounded moment-cell sync — local relation, no events scan, no join") {
    val p = plan("q354_aipw_doubly_robust")
    assert(!p.contains("events"), p)
    assert(!p.contains("Join"), p)
  }

  test("q358 conformal sets: the shared scored chain over both folds, per-doc windows, taxonomy-bounded histogram — vocabulary join keyed, no cartesian beyond the pinned 1-row/classes crosses") {
    val p = plan("q358_nb_conformal")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
  }

  test("q360 Mondrian sets: the same shared scored chain, per-class quantile as ONE class-partitioned window, taxonomy-bounded broadcast threshold table — no cartesian beyond the pinned crosses") {
    val p = plan("q360_nb_mondrian")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
  }

  test("q357 Gopher repetition: unit and n-gram passes shuffle on (doc, unit) keys — one shared 9-n explode, no cartesian, no nested loop") {
    val p = plan("q357_gopher_repetition")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q356 NB reliability: the shared scored frame through a per-doc top-2 window to a 5-bucket rollup — vocabulary join keyed (never broadcast), no cartesian beyond the pinned classes cross") {
    val p = plan("q356_nb_reliability")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
    assert(p.contains("Window"), p)
  }

  test("q309 SPRT: candidate days join back as an equi broadcast — no cartesian, no nested loop, bounded (arm, day) windows only") {
    val p = plan("q309_sprt")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(count(p, "BroadcastHashJoin") >= 1, p)
  }

  test("q310 DSIR: the bucket LM broadcasts onto the scoring join; only the two 1-row total crosses") {
    val p = plan("q310_dsir_weights")
    assert(!p.contains("CartesianProduct"), p)
    // the tokenize pass ran ONCE into the staged leaf — the raw-LM,
    // target-LM, and scoring branches all read it, never the corpus
    assert(!p.contains("documents"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 2, p)
    // the ≤4096-row λ table rides a broadcast hash join onto (doc, b)
    assert(count(p, "BroadcastHashJoin") >= 1, p)
  }

  test("q311 Kneser-Ney: count-table joins are equi-joins; the only cross is the 1-row (T, V) globals broadcast") {
    val p = plan("q311_kneser_ney")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p)
  }

  test("q320 Naive Bayes: the train tokenize is STAGED — scoring reads the count leaf on equi keys; crosses are the bounded class-table broadcasts") {
    val p = plan("q320_naive_bayes")
    assert(!p.contains("CartesianProduct"), p)
    // the (class, term) count table was built ONCE into the scratch
    // leaf and the class table collected once to a literal; the only
    // nested loops are its two |classes|-row broadcast crosses
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 2, p)
  }

  test("q304 Apriori triples: level-wise joins only — semi-joins prune to frequent pairs, no cartesian, counts broadcast back") {
    val p = plan("q304_assoc_triples")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p) // 1-row nb
    // the downward-closure prunes survive as genuine semi-joins — without
    // them the triple intermediate is Σ basket³, the bound the level-wise
    // shape exists to avoid
    assert(p.contains("LeftSemi"), p)
    assert(count(p, "BroadcastHashJoin") >= 3, p)
  }

  test("q305 retention triangle: aggregates + ONE pivot on the calendar grid — no window, no cartesian beyond the 1-row horizon cross") {
    val p = plan("q305_retention_triangle")
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")) && bnlj.size <= 1, p) // 1-row mx
    // the triangle is pure hash aggregation — pivot lowers to an
    // aggregate, never a per-cohort window sort
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("q296 domain reweighting reads the STAGED ce leaf — no token explode in the plan; only source-sized broadcast crosses") {
    val p = plan("q296_domain_reweight")
    // the corpus-sized scoring pass is the staged q293 leaf, not lineage
    assert(!p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")), p)
  }

  test("q295 Merkle maintenance: pure equi-join plan — deltas broadcast onto the stored tree, no cross anywhere") {
    val p = plan("q295_merkle_maintain")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(count(p, "BroadcastHashJoin") >= 2, p) // ranked keys + deltas
  }

  test("q284 cube lowers to ONE Expand + hash aggregate — never four unioned aggregations; dims broadcast") {
    val p = plan("q284_revenue_cube")
    assert(count(p, "Expand") == 1, p)
    assert(!p.contains("Union"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // nation and region ride broadcast-hash joins, never a shuffle
    assert(count(p, "BroadcastHashJoin") >= 2, p)
  }
}
