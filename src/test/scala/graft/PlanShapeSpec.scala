package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties the 100 TB design
  * depends on, asserted against the ACTUAL physical plans so a future
  * refactor can't silently reintroduce a cartesian product, lose a
  * broadcast, or drop partial aggregation.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.write.format("noop").mode("overwrite").save() // finalize AQE plan
    df.queryExecution.executedPlan.toString
  }

  test("no query plans a cartesian product") {
    SparkEntry.queries.keys.foreach { q =>
      assert(!TestSpark.inventoryRun(sf, q).plan.contains("CartesianProduct"),
        s"$q plans a cartesian product")
    }
  }

  test("similarity queries broadcast the small side") {
    Seq("q16_cosine_topk", "q22_ann_ivf", "q25_embedding_neardup").foreach { q =>
      assert(plan(q).contains("BroadcastExchange"), s"$q lost its broadcast")
    }
  }

  test("dimension join broadcasts, fact side never broadcast-built") {
    assert(plan("q11_join").contains("BroadcastHashJoin"))
  }

  test("q300 ANN bitext tier keeps bucketed candidates and a broadcast audit leg") {
    val p = plan("q300_bitext_ann")
    // IVF assignment must stay a map-side partial argmax (the q22 shape)
    assert(p.contains("partial_max_by"),
      s"q300 lost the assignment partial aggregation:\n$p")
    // centroids/probes/audit sample all broadcast — the corpus halves
    // must never shuffle-pair (that is q239, the truth tier)
    assert(p.contains("BroadcastExchange"), s"q300 lost its broadcasts:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q300's exact audit leg is not the broadcast-sample form:\n$p")
  }

  test("dedup and changelog-normalize aggregate partially before the shuffle") {
    assert(plan("q13_dedup_exact").contains("partial_min"),
      "exact dedup lost map-side partial aggregation")
    assert(plan("q23_upsert_latest_agg").contains("partial_max_by"),
      "changelog-normalize lost map-side partial aggregation")
  }

  test("IVF bucket assignment partially aggregates, no per-vector window") {
    val p22 = plan("q22_ann_ivf")
    val p25 = plan("q25_embedding_neardup")
    // argmax-by-centroid must be a map-side partial aggregation: the
    // exchange carries one row per vector, not the corpus × K fanout
    assert(p22.contains("partial_max_by"),
      s"q22 bucket assignment lost partial aggregation:\n$p22")
    assert(p25.contains("partial_max_by"),
      s"q25 bucket assignment lost partial aggregation:\n$p25")
    // probe selection (top-nprobe centroids per query) is a bounded
    // collect_list + slice, also partial-aggregated
    assert(p22.contains("partial_collect_list"),
      s"q22 probe selection lost partial aggregation:\n$p22")
    // q25 has no window at all; q22's only window is the final
    // per-query top-k over probed candidates
    assert(!p25.contains("Window"), s"q25 reintroduced a window exchange:\n$p25")
  }

  test("sequence packing: corpus window is block-partitioned, totals pre-aggregated") {
    val p = plan("q40_pack_chunks")
    // the per-row cumsum must be partitioned by block — a global
    // (unpartitioned) window over the corpus would be a single-task sort
    assert(p.contains("windowspecdefinition(__blk"),
      s"q40 per-row cumsum is not block-partitioned:\n$p")
    // block totals reach their (tiny) ordered window via partial agg
    assert(p.contains("partial_sum"),
      s"q40 block totals lost map-side partial aggregation:\n$p")
    // block prefixes come back via broadcast, not a shuffle of the corpus
    assert(p.contains("BroadcastHashJoin"),
      s"q40 block prefix join lost its broadcast:\n$p")
  }

  test("sessionization windows are keyed by user, never global") {
    val p = plan("q42_sessionize")
    assert(p.contains("windowspecdefinition(user_id"),
      s"q42 session windows lost their user partitioning:\n$p")
  }

  test("range join is an equi-join on (key, bucket), never nested-loop") {
    val p = plan("q45_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q45 planned the time predicate as a nested-loop join:\n$p")
    assert(p.contains("Join") && (p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin")),
      s"q45 lost its hash-joinable (key, bucket) equi-condition:\n$p")
  }

  test("salted join replicates the build side and shuffles, no broadcast") {
    val p = plan("q46_skew_join")
    assert(p.contains("Generate explode"),
      s"q46 build side is not salt-replicated:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"q46 is not a shuffled hash join (broadcast would void the salt):\n$p")
  }

  test("bucketed join is co-located: sort-merge with zero hash exchanges") {
    val p = plan("q51_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"q51 is not a sort-merge join:\n$p")
    // bucket layout must satisfy join AND aggregation distribution —
    // the only exchange allowed is the final orderBy's range partition
    assert(!p.contains("Exchange hashpartitioning"),
      s"q51 shuffles despite bucketing:\n$p")
  }

  test("catalog SQL reads are columnar DSv2 parquet scans, no RDD bridge") {
    val p = plan("q20_store_sql_roundtrip")
    assert(p.contains("BatchScan"), s"q20 read is not a DSv2 batch scan:\n$p")
    assert(!p.contains("ExistingRDD"),
      s"q20 crosses a DataFrame->RDD[Row] boundary:\n$p")
    assert(!p.contains("RowToColumnar"),
      s"q20 pays a row-to-columnar conversion:\n$p")
  }

  test("filter pushdown reaches the parquet scan") {
    val p = plan("q10_status_filter")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"),
      s"pushdown missing in:\n$p")
  }

  test("TF-IDF argmax is a min_by partial agg, not a rank window") {
    val p = plan("q58_tfidf_top_term")
    assert(p.contains("partial_min_by"),
      s"q58 per-doc argmax lost map-side partial aggregation:\n$p")
    assert(!p.contains("Window"),
      s"q58 ranks (doc, term) pairs through a window exchange:\n$p")
  }

  test("BM25 broadcasts the term stats and takes top-k without a full sort") {
    val p = plan("q59_bm25_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"q59 shuffles the corpus to meet the tiny df table:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q59 pays a global sort for its top-k:\n$p")
  }

  test("quantization stays in the scan projection: no hash exchange, no window") {
    val p = plan("q60_embed_quantize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"q60 shuffles a per-row computation:\n$p")
    assert(!p.contains("Window"), s"q60 reintroduced a window:\n$p")
  }

  test("stratified sample never windows by the bare low-cardinality group") {
    val p = plan("q61_stratified_sample")
    // level-1 window must include the split column next to the group
    assert(p.contains("windowspecdefinition(lang") && p.contains("__split"),
      s"q61 lost its two-level split partitioning:\n$p")
  }

  test("global shuffle sorts shard-local") {
    val p = plan("q62_global_shuffle")
    assert(p.contains("windowspecdefinition(shard"),
      s"q62 position rank is not shard-partitioned:\n$p")
  }

  test("LSH near-dup blocks on the code, never all-pairs") {
    val p = plan("q63_ann_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q63 degenerated to an all-pairs join:\n$p")
    assert(!p.contains("Window"), s"q63 reintroduced a window exchange:\n$p")
  }

  test("z-ordered catalog read stays a columnar DSv2 scan") {
    val p = plan("q66_zorder_scan")
    assert(p.contains("BatchScan"), s"q66 read is not a DSv2 batch scan:\n$p")
    assert(!p.contains("ExistingRDD"),
      s"q66 crosses a DataFrame->RDD[Row] boundary:\n$p")
  }

  test("pivot with explicit values is one partial-agg pass") {
    val p = plan("q68_pivot")
    assert(p.contains("partial_pivotfirst") || p.contains("partial_count"),
      s"q68 pivot lost map-side partial aggregation:\n$p")
  }

  test("DSIR scores via broadcast lookup and takes top-k without a full sort") {
    val p = plan("q204_dsir_select")
    // the bucket log-ratio table must broadcast (corpus never shuffles
    // on a feature bucket) and the selection must be a heap, not a sort
    assert(p.contains("BroadcastHashJoin"), s"q204 lost its broadcast lookup:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q204 top-k became a global sort:\n$p")
    assert(!p.contains("Window"), s"q204 reintroduced a window exchange:\n$p")
  }

  test("PMI mining broadcasts the total and takes top-k without a full sort") {
    val p = plan("q212_pmi_collocations")
    assert(p.contains("BroadcastExchange"), s"q212 lost its broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q212 top-k became a global sort:\n$p")
    assert(!p.contains("Window"), s"q212 reintroduced a window exchange:\n$p")
  }

  test("content chunking stays scan-side: no window, copy counts partial-agg") {
    val p = plan("q215_content_chunks")
    assert(!p.contains("Window"), s"q215 reintroduced a window exchange:\n$p")
    assert(p.contains("partial_count"), s"q215 lost map-side partial aggregation:\n$p")
  }

  test("EXCEPT and correlated EXISTS plan as anti/semi hash joins") {
    val p71 = plan("q71_except")
    assert(p71.contains("LeftAnti"), s"q71 EXCEPT lost its anti-join plan:\n$p71")
    val p72 = plan("q72_exists_semijoin")
    assert(p72.contains("LeftSemi"), s"q72 EXISTS is not a semi-join:\n$p72")
  }

  test("incremental dedup pre-aggregates the batch before the anti-join") {
    val p = plan("q65_incremental_dedup")
    assert(p.contains("partial_min"),
      s"q65 batch-internal dedup lost map-side partial aggregation:\n$p")
    assert(p.contains("LeftAnti"), s"q65 lost its anti-join:\n$p")
    // the anti-join must key on the 32-char fingerprints — document
    // text never reaches a join (at 100 TB the texts ARE the data)
    assert("Join \\[fp#\\d+\\], \\[fp#\\d+\\], LeftAnti".r
      .findFirstIn(p).isDefined,
      s"q65 anti-join no longer keys on the fingerprint column:\n$p")
  }

  test("global shuffle pays exactly one hash exchange") {
    val p = plan("q62_global_shuffle")
    // shard assignment is scan-side; the only hash exchange is the
    // partition-by-shard feeding the shard-local sort (the trailing
    // range partition belongs to the gate's deterministic orderBy)
    val hashes = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashes === 1,
      s"q62 pays $hashes hash exchanges (want exactly 1):\n$p")
  }

  test("codec queries never shuffle payload bytes") {
    // q78/q79 decode media in batched mapPartitions; the only
    // exchange allowed is the gate's deterministic final orderBy —
    // payloads (the 100 TB column) must never cross a hash partition
    Seq("q78_image_decode", "q79_audio_decode", "q80_video_decode").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q shuffles its media rows:\n$p")
      assert(!p.contains("Window"), s"$q reintroduced a window:\n$p")
    }
  }

  test("partitioned probe join injects dynamic partition pruning") {
    val p = plan("q81_dpp")
    // the dim filter is an aggregate property, so only the RUNTIME
    // subquery can prune fact partitions — at 100 TB this is the
    // difference between scanning the selected priorities and the
    // whole table
    assert(p.contains("dynamicpruningexpression"),
      s"q81 fact scan lost its dynamic partition pruning filter:\n$p")
    assert(p.contains("PartitionFilters"),
      s"q81 fact read is not partition-aware:\n$p")
  }

  test("cube computes every grouping set in one Expand + one shuffle") {
    val p = plan("q82_cube")
    // all four granularities of (event_type, cohort) must come from a
    // single Expand feeding one partial-agg'd exchange — a per-grouping
    // union would scan the fact table four times
    assert(p.contains("Expand"), s"q82 cube lost its Expand plan:\n$p")
    assert(p.contains("partial_sum"),
      s"q82 cube lost map-side partial aggregation:\n$p")
    val hashes = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashes === 1,
      s"q82 pays $hashes hash exchanges (want exactly 1):\n$p")
  }

  test("range-frame sliding window is keyed by user, never global") {
    val p = plan("q83_range_frame")
    // the trailing 1-hour sum partitions by user_id (unbounded key
    // cardinality) — an unpartitioned range frame would sort the whole
    // event history in one task
    assert(p.contains("windowspecdefinition(user_id"),
      s"q83 sliding window lost its user partitioning:\n$p")
    assert(p.contains("RangeFrame"),
      s"q83 no longer plans a RANGE window frame:\n$p")
  }

  test("unpivot melts scan-side: one Expand, one aggregation shuffle") {
    val p = plan("q84_unpivot")
    assert(p.contains("Expand"), s"q84 unpivot lost its Expand plan:\n$p")
    assert(p.contains("partial_count"),
      s"q84 wide-frame aggregation lost its map-side partial:\n$p")
    // the melt itself is free — the only hash exchange is the groupBy
    // producing the wide frame
    val hashes = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashes === 1,
      s"q84 pays $hashes hash exchanges (want exactly 1):\n$p")
  }

  test("duplicated-span mining shuffles (span, doc) pairs, top-k without global sort") {
    val p = plan("q86_dup_spans")
    // COUNT(DISTINCT doc_id) plans as the two-level hash aggregate:
    // a partial count keyed on (span, doc) before the first exchange —
    // the shuffle carries deduplicated (span, doc) pairs, never text
    assert(p.contains("partial_count"),
      s"q86 span counting lost map-side partial aggregation:\n$p")
    assert("partial_count\\(1\\)".r.findFirstIn(p).isDefined
      && p.contains("doc_id") && !p.contains("Expand"),
      s"q86 distinct-doc counting changed shape (re-audit the shuffle):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q86 pays a global sort for its top-100:\n$p")
  }

  test("token budget windows by (source, block), never a whole source") {
    val p = plan("q93_token_budget")
    // the per-row running budget must be partitioned by (source, ord
    // block) — a window over the bare source would serialize each
    // domain's corpus into one task
    // anchor to the PER-ROW window (partition cols source, __blk then
    // order col __ord): the block-prefix window also starts with
    // "source#N, __blk#ML" but there __blk is an ORDER col followed by
    // " ASC", so requiring ", __ord#" right after distinguishes them
    assert("windowspecdefinition\\(source#\\d+, __blk#\\d+L, __ord#".r
      .findFirstIn(p).isDefined,
      s"q93 running budget lost its (source, block) partitioning:\n$p")
    // block totals pre-aggregate map-side; prefixes come back broadcast
    assert(p.contains("partial_sum"),
      s"q93 block totals lost map-side partial aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q93 block prefix join lost its broadcast:\n$p")
  }

  test("CMS sketch aggregates partially: the exchange carries grids, not tokens") {
    val p = plan("q95_cms_heavy_hitters")
    // the sketch is a TypedImperativeAggregate — it must plan as an
    // ObjectHashAggregate with a map-side partial grid per partition
    assert(p.contains("ObjectHashAggregate"),
      s"q95 sketch left the object-agg path:\n$p")
    assert(p.contains("partial_cms_sketch"),
      s"q95 sketch lost map-side partial aggregation:\n$p")
    // the single-row grid reaches the probe side without a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"q95 grid probe lost its broadcast:\n$p")
  }

  test("decile assignment windows by (group, range-bucket), never bare segment") {
    val p = plan("q74_ntile")
    // the scale-safe NTILE: local ranks within (group, bucket) — a
    // window partitioned by the bare 5-value segment would sort each
    // segment's entire history in one task
    assert(p.contains("windowspecdefinition(__g"),
      s"q74 rank window lost its range-bucket partitioning:\n$p")
    assert(!p.contains("windowspecdefinition(c_mktsegment"),
      s"q74 reintroduced the per-segment global sort:\n$p")
    // exactly one row_number expression (the materialized rank)
    assert("row_number\\(\\)".r.findAllIn(p).size === 1,
      s"q74 duplicated its rank window expression:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q74 customer dim join lost its broadcast:\n$p")
  }

  test("cohort retention never windows the event stream") {
    val p = plan("q111_cohort_retention")
    // cohort day must come from a partial-agg groupBy + join back,
    // NOT min(day) OVER (PARTITION BY user) — the window form sorts
    // every user's whole history
    assert(!p.contains("windowspecdefinition"),
      s"q111 reintroduced a window over the event stream:\n$p")
    assert(p.contains("partial_min"),
      s"q111 cohort assignment lost map-side partial aggregation:\n$p")
  }

  test("funnel cascade stays in one shuffle domain keyed by user") {
    val p = plan("q112_funnel")
    // conditional-min stages, no per-user sort anywhere
    assert(!p.contains("windowspecdefinition"),
      s"q112 funnel reintroduced a window sort:\n$p")
    assert(p.contains("partial_min"),
      s"q112 stage times lost map-side partial aggregation:\n$p")
  }

  test("pagerank iterates with broadcast ranks, shuffles only contributions") {
    val p = plan("q115_pagerank")
    // the |V|-row rank table must reach the edge table broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"q115 rank join lost its broadcast:\n$p")
    assert(p.contains("partial_sum"),
      s"q115 contribution sums lost map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q115 plans a cartesian product:\n$p")
  }

  test("bottom-k sample plans as TakeOrdered, never a global sort of the corpus") {
    val p = plan("q116_bottomk_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"q116 lost its top-k heap plan:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"q116 pays a global range sort:\n$p")
  }

  test("weighted sample plans as TakeOrdered like its unweighted twin") {
    val p = plan("q118_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"q118 lost its top-k heap plan:\n$p")
  }

  test("session path mining windows by user, top-k paths without a global sort") {
    val p = plan("q122_session_paths")
    assert(p.contains("windowspecdefinition(user_id"),
      s"q122 session windows lost their user partitioning:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q122 path top-k lost its heap plan:\n$p")
  }

  test("pmi scoring joins the vocabulary broadcast, top-k without a global sort") {
    val p = plan("q123_pmi_collocations")
    assert(p.contains("BroadcastHashJoin"),
      s"q123 vocabulary join lost its broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q123 top-k lost its heap plan:\n$p")
  }

  test("SCD2 build and temporal join stay in one key-partitioned window domain") {
    val p127 = plan("q127_scd2_build")
    assert(p127.contains("windowspecdefinition(user_id"),
      s"q127 version intervals lost their key partitioning:\n$p127")
    val p128 = plan("q128_temporal_join")
    // the point-in-time join must stay the carry-forward rewrite: one
    // keyed window, never an interval range join (nested-loop fallback)
    assert(p128.contains("windowspecdefinition(user_id"),
      s"q128 temporal join lost its carry-forward window:\n$p128")
    assert(!p128.contains("BroadcastNestedLoopJoin"),
      s"q128 degenerated into an interval nested-loop join:\n$p128")
  }

  test("domain cap windows only survivors, thresholds broadcast back") {
    val p = plan("q129_domain_cap")
    // the histogram is a partial-agg groupBy; the per-source threshold
    // comes back to the scan via broadcast, not a shuffle of the corpus
    assert(p.contains("partial_count"),
      s"q129 length histogram lost map-side partial aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q129 threshold join lost its broadcast:\n$p")
  }

  test("rolling distinct fans out bounded days and broadcasts the day filter") {
    val p = plan("q132_rolling_distinct")
    assert(p.contains("BroadcastHashJoin"),
      s"q132 observed-days filter lost its broadcast:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"q132 reintroduced a sliding window over the event stream:\n$p")
  }

  test("triangle counting joins broadcast dims, closes wedges with a hash join") {
    val p = plan("q136_triangle_count")
    assert(p.contains("BroadcastHashJoin"),
      s"q136 edge build lost its broadcast dim joins:\n$p")
    assert(p.contains("partial_count"),
      s"q136 edge aggregation lost its map-side partial:\n$p")
  }

  test("analyze stats plans multi-distinct NDVs via Expand in one scan") {
    val p = plan("q138_analyze_stats")
    assert(p.contains("Expand"),
      s"q138 multi-distinct aggregation lost its Expand plan:\n$p")
  }

  test("ppjoin candidates come from the prefix join, verified without re-shuffling sets") {
    val p = plan("q117_ppjoin_jaccard")
    // shingle-frequency ordering is a partial-agg groupBy; the pair
    // dedup is an aggregate over (a_id, b_id) — never a window or sort
    // over the candidate stream
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"q117 shingle df lost map-side partial aggregation:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"q117 reintroduced a window over candidates:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q117 plans a cartesian product:\n$p")
  }

  test("incremental near-dup probes the index by bucket equi-join, no window") {
    val p = plan("q143_incr_neardup")
    // the batch is checked against the index's buckets and verified on
    // candidates only — never a window, never an index-index pairing
    assert(!p.contains("windowspecdefinition"),
      s"q143 gained a window over the corpus:\n$p")
    assert(p.contains("shingle_jaccard"),
      s"q143 verification is no longer the fused scan-side expression:\n$p")
  }

  test("url canonicalization dedup is one partial-agg pass, no joins") {
    val p = plan("q144_url_dedup")
    assert(!p.contains("Join"), s"q144 gained a join:\n$p")
    assert(!p.contains("windowspecdefinition"), s"q144 gained a window:\n$p")
    assert(p.contains("partial_count"),
      s"q144 lost map-side partial aggregation:\n$p")
  }

  test("csv round-trip reads back through the csv scan with partial aggs") {
    val p = plan("q145_csv_roundtrip")
    assert(p.contains("csv") || p.contains("Csv"),
      s"q145 no longer reads the csv files back:\n$p")
    assert(p.contains("partial_count"),
      s"q145 lost map-side partial aggregation:\n$p")
  }

  test("star join broadcasts the dims and pushes the date window to the orders scan") {
    val p = plan("q154_star_join")
    assert(p.contains("BroadcastHashJoin"),
      s"q154 lost the dimension broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") ||
      p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"q154 date filter no longer reaches the orders scan:\n$p")
  }

  test("embedding outlier filter assigns via partial max_by, stats broadcast back") {
    val p = plan("q146_embed_outlier")
    assert(p.contains("partial_max_by"),
      s"q146 bucket assignment lost partial aggregation:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q146 per-bucket stats join lost its broadcast:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"q146 gained a window exchange:\n$p")
  }

  test("CEP run-length lowering: every window is user-partitioned") {
    val p = plan("q162_cep_pattern")
    assert(p.contains("windowspecdefinition(user_id"),
      s"q162 lost its per-user window partitioning:\n$p")
    // the run aggregate must partial-agg before its (user, run) shuffle
    assert(p.contains("partial_max") || p.contains("partial_min"),
      s"q162 run aggregation lost map-side partials:\n$p")
  }

  test("kNN graph: partial max_by assignment, bounded top_k aggregate, no window") {
    val p = plan("q176_knn_graph")
    assert(p.contains("partial_max_by"),
      s"q176 bucket assignment lost partial aggregation:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q176 top_k no longer plans as an object hash aggregate:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"q176 reintroduced a per-node window sort:\n$p")
  }

  test("allocation windows are order-partitioned (bounded per-order sorts only)") {
    val p = plan("q186_allocation")
    assert(p.contains("windowspecdefinition(l_orderkey"),
      s"q186 allocation windows lost their per-order partitioning:\n$p")
  }

  test("attribution plans the as-of union, never a per-purchase range join") {
    val p = plan("q187_attribution")
    assert(p.contains("windowspecdefinition(user_id"),
      s"q187 as-of carry-forward lost its per-user window:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin("),
      s"q187 degraded to a non-equi join:\n$p")
  }

  test("suffix dedup: every window is document-partitioned, never corpus-wide") {
    val p = plan("q199_suffix_dup_spans")
    // lead()s per doubling round + the islands pass — all keyed by doc
    assert(p.contains("windowspecdefinition(__id"),
      s"q199 lost its per-document window partitioning:\n$p")
    assert(!p.contains("windowspecdefinition()") &&
      !p.contains("SinglePartition"),
      s"q199 introduced a corpus-wide single-partition stage:\n$p")
  }

  test("BPE encode is scan-side replaces + one per-doc partial agg, no window") {
    val p = plan("q202_bpe_encode")
    assert(!p.contains("windowspecdefinition"),
      s"q202 reintroduced a window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"q202 lost map-side partial aggregation:\n$p")
  }

  test("LOO target encoding joins broadcast, never a window or sort-merge") {
    val p = plan("q252_target_encoding")
    assert(p.contains("BroadcastHashJoin"), s"q252 lost its broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q252 shuffled on the category:\n$p")
    assert(!p.contains("Window"), s"q252 reintroduced a window:\n$p")
  }

  test("caliper matching: sorted 1-D nearest form — bucket windows, no pair join") {
    val p = plan("q253_caliper_matching")
    // the as-of rewrite: carry-forward windows partitioned by caliper
    // bucket — never a pair join over |T|x|C| candidates (the first
    // cut's bucket-equality join measured 50.3 s at sf0.1 because the
    // propensity mass concentrates in ~25 buckets)
    assert(p.contains("windowspecdefinition(bkt"),
      s"q253 lost its bucket-partitioned carry-forward windows:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q253 degraded to a nested loop:\n$p")
    // the control reduction stays a partial aggregation
    assert(p.contains("partial_min"),
      s"q253 control reduction lost partial aggregation:\n$p")
  }

  test("blocklist filter is scan-side: no hash shuffle, no aggregation") {
    val p = plan("q247_blocklist_filter")
    assert(!p.contains("hashpartitioning("),
      s"q247 gained a hash shuffle:\n$p")
    assert(!p.contains("HashAggregate"), s"q247 gained an aggregation:\n$p")
    assert(p.contains("multi_match"), s"q247 lost the native expression:\n$p")
  }

  test("Misra-Gries summary partially aggregates on the executors") {
    val p = plan("q243_misra_gries_hh")
    assert(p.contains("partial_misra_gries"),
      s"q243 summary lost map-side partial aggregation:\n$p")
  }

  test("Kneser-Ney LM tables broadcast back; the corpus never shuffles on a bigram") {
    val p = plan("q245_kneser_ney_nll")
    assert(p.contains("BroadcastHashJoin"), s"q245 lost its broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q245 shuffles the corpus on a bigram key:\n$p")
  }

  test("time-series family windows partition per type, never globally") {
    Seq("q266_cusum_changepoint", "q272_spearman_corr",
      "q277_stl_decompose").foreach { q =>
      val p = plan(q)
      assert(p.contains("windowspecdefinition(event_type"),
        s"$q lost its per-type window partitioning:\n$p")
      assert(!p.contains("windowspecdefinition(w#") &&
        !p.contains("SinglePartition"),
        s"$q moved data to a single partition:\n$p")
    }
  }

  test("association rules: top-20 is TakeOrdered, pair space never sorts globally") {
    val p = plan("q270_assoc_rules")
    assert(p.contains("TakeOrderedAndProject"),
      s"q270 lost its TakeOrdered top-k:\n$p")
    assert(p.contains("partial_count"),
      s"q270 pair support lost map-side partial aggregation:\n$p")
  }

  test("Adamic-Adar: wedge scoring has no window; top-20 is TakeOrdered") {
    val p = plan("q274_adamic_adar")
    assert(!p.contains("Window"), s"q274 gained a window exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q274 lost its TakeOrdered top-k:\n$p")
  }

  test("TextRank: rank table broadcasts per iteration, edges never re-sort") {
    val p = plan("q282_textrank")
    assert(p.contains("BroadcastHashJoin"),
      s"q282 lost the broadcast rank join:\n$p")
  }

  test("grid DBSCAN pairs on the cell key: hash join, never nested-loop") {
    // the final q343 plan reads the checkpointed neighbor list (the
    // 9-cell join executes eagerly inside Dbscan.cluster), so the
    // join shape is pinned on the exposed un-materialized lineage
    import spark.implicits._
    val pts = Seq((1L, 10L, 10L), (2L, 12L, 12L), (3L, 40L, 40L))
      .toDF("vid", "x", "y")
      .withColumn("cx", org.apache.spark.sql.functions.expr("x div 15"))
      .withColumn("cy", org.apache.spark.sql.functions.expr("y div 15"))
    val nbr = graft.pipeline.Dbscan.neighborPairs(pts, eps = 15L)
    val np = nbr.queryExecution.executedPlan.toString
    assert(!np.contains("BroadcastNestedLoopJoin") &&
      !np.contains("CartesianProduct"),
      s"DBSCAN candidate pairing degraded to a non-equi join:\n$np")
    assert(np.contains("jcx") && np.contains("jcy"),
      s"DBSCAN pairing lost the 9-cell equi-join key:\n$np")
    // and the end-to-end plan must still never nested-loop
    val p = plan("q343_dbscan_grid")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q343 degraded to a nested-loop candidate join:\n$p")
  }

  test("RM3 joins the broadcast query-term table before any tf aggregation") {
    val p = plan("q353_rm3_expansion")
    assert(p.contains("BroadcastHashJoin"),
      s"q353 lost the broadcast term-table join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"),
      s"q353 gained a corpus-sized join:\n$p")
  }

  test("2-hop reach: hub cap filters before the hop join, distinct partial-aggs") {
    val p = plan("q355_reach_2hop")
    assert(!p.contains("Window"), s"q355 gained a window exchange:\n$p")
    assert(p.contains("partial_count"),
      s"q355 degree/reach counts lost map-side partial aggregation:\n$p")
  }

  test("assortativity/MMD/PCA fold suff-stats with partial aggs and broadcasts") {
    // q361: degree attach = node-keyed hash joins + ONE scalar fold —
    // the stub table must partial-agg before any exchange
    val p361 = plan("q361_degree_assortativity")
    assert(p361.contains("partial_count") || p361.contains("partial_sum"),
      s"q361 lost map-side partial aggregation:\n$p361")
    assert(!p361.contains("BroadcastNestedLoopJoin"),
      s"q361 degenerated to a nested-loop pairing:\n$p361")
    // q362: 64 dim groups from one posexplode scan; the 1-row count
    // fold attaches by broadcast, never a shuffle join
    val p362 = plan("q362_mmd_shift")
    assert(p362.contains("BroadcastExchange"),
      s"q362 lost its broadcast count attach:\n$p362")
    assert(p362.contains("partial_sum"),
      s"q362 per-dim sums lost partial aggregation:\n$p362")
    // q374: every power-iteration round joins the 64-row weight
    // vector by broadcast against the bounded scatter matrix
    val p374 = plan("q374_pca_power")
    assert(p374.contains("BroadcastExchange"),
      s"q374 rounds lost the broadcast weight join:\n$p374")
  }

  test("t-closeness windows by cell; CER/codec features never shuffle rows") {
    // q363: the cum window partitions by (event_type, day) — bounded
    // rows per partition (= |bands|), never a global sort
    val p363 = plan("q363_t_closeness")
    assert(p363.contains("windowspecdefinition(event_type"),
      s"q363 cum window lost its per-cell partitioning:\n$p363")
    // q368 CER is pure scan-side expression work: the only exchange
    // is the gate's deterministic final orderBy
    val p368 = plan("q368_cer_eval")
    assert(!p368.contains("Exchange hashpartitioning"),
      s"q368 shuffles its per-doc rows:\n$p368")
    // q369/q370 decode media in batched mapPartitions; payloads (the
    // 100 TB column) must never cross a hash partition
    Seq("q369_audio_autocorr", "q370_sobel_energy").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q shuffles its media rows:\n$p")
    }
  }

  test("sorted-neighborhood positions come from the two-level prefix sum") {
    val p = plan("q367_sorted_neighborhood")
    // the within-block row_number partitions by the prefix block —
    // the only unpartitioned window runs over the bounded block table
    assert(p.contains("windowspecdefinition(blkk"),
      s"q367 lost its block-partitioned position window:\n$p")
    // the band join on pos-div-w must be an equi-join, never a range
    // nested loop
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q367 neighbor pairing degenerated to a nested loop:\n$p")
  }

  test("sequential mining windows by user, support never sorts globally") {
    val p = plan("q346_seq2_mining")
    assert(p.contains("windowspecdefinition(user_id"),
      s"q346 lost its per-user window partitioning:\n$p")
    // the lead() window must be fed by a user-keyed hash exchange and
    // the plan must carry NO single-partition exchange anywhere — the
    // former disjunctive form was tautological (its second disjunct
    // was the first assertion) and could never catch the regression
    // it named
    assert(p.contains("Exchange hashpartitioning(user_id"),
      s"q346 window input is not hash-distributed by user:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"q346 moved the event stream to a single partition:\n$p")
  }

  test("round-12 pairing/iterative ops keep equi-join shapes — no " +
      "nested loop anywhere") {
    Seq("q384_monge_elkan", "q389_facility_location",
      "q380_incremental_bipartite", "q382_chrf_eval").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a nested-loop join:\n$p")
    }
  }

  test("Snm-banded matchers window per block and band-join, never " +
      "raw-block pair") {
    Seq("q151_jw_entity_match", "q106_editdist_pairs").foreach { q =>
      val p = plan(q)
      // the position window must partition by the block key (brand)
      assert(p.contains("windowspecdefinition(brand"),
        s"$q lost its per-block position window:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a nested-loop join:\n$p")
    }
  }

  test("phrase search joins postings by (doc, pos±k) equi-keys with a " +
      "broadcast query table — no nested loop") {
    val p = plan("q396_phrase_search")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q396 planned a position offset as a nested-loop join:\n$p")
    // the 1-row query phrase attaches by broadcast, never a shuffle
    assert(p.contains("BroadcastHashJoin"),
      s"q396 lost the broadcast of the query-phrase table:\n$p")
  }

  test("RAKE runs are per-document windows and the stop list broadcasts") {
    val p = plan("q394_rake_keywords")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"q394 run-id window lost its per-doc partitioning:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q394 stop-list join lost its broadcast:\n$p")
  }

  test("new bounded-histogram stats partially aggregate the event scan") {
    // the q236 family contract: ONE partial-agg groupBy to value-domain
    // cells; windows and folds run on the cell table, never event rows
    Seq("q391_youden_threshold", "q392_cvm_two_sample",
      "q398_decision_stump", "q403_anderson_darling").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_sum"),
        s"$q lost map-side partial aggregation of the cents histogram:\n$p")
    }
  }
}
