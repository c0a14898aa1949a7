package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans of representative queries to PLANS.md
  * (dev tool; run after plan changes to refresh the audit artifact). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val picks = Seq(
      "q6_forecast_revenue" ->
        "Selective filter aggregation: every predicate is pushed to the parquet scan; ReadSchema is 4 of 16 columns.",
      "q3_shipping_priority" ->
        "Dimension broadcast + shuffled fact join; partial aggregation before the exchange.",
      "sharded_page_read" ->
        "The reference's per-shard paging loop as ONE window over ONE hash exchange (Flink keyBy analogue).",
      "ngram_jaccard_pairs" ->
        ("Prefix+position-filtered set-similarity join: no cartesian product anywhere; candidates shuffle once by shingle. " +
          "The O(vocabulary) document-frequency table is NOT hint-broadcast (r3): both sides arrive hash-partitioned by shingle, AQE decides."),
      "upsert_partitioned" ->
        "Partition-scoped upsert: the base scan is pruned to the partitions the update batch touches before the anti join.",
      "dedup_minhash_lsh" ->
        "MinHash banding: fused band kernel evaluated once per row, bucket-collision join, exact verify.",
      "embedding_cosine_topk" ->
        "Brute-force ANN baseline: queries broadcast, candidates never shuffle; fused cosine kernel in the projection.",
      "gap_fill" ->
        ("As-of forward fill: grid and hourly sides union, shuffle ONCE by user, one ordered window carries " +
          "the last payload struct forward - no per-key loop, no range self-join."),
      "bloom_filter_join" ->
        ("Bloom-prefiltered join: the codegen'd bloom probe sits in the fact scan's Filter, upstream of the " +
          "exchange, so only ~matching + fpp*rest rows shuffle; the equi-join afterwards removes false positives."),
      "pipeline_training_data" ->
        "End-to-end pipeline: quality filter, dedup, enrichment join and rollup in one Catalyst-optimized plan.",
      "dedup_incremental" ->
        ("Incremental ingest dedup: the batch's band table joins the corpus index on (band, bucket) - " +
          "batch x corpus collisions only, the corpus is never re-paired with itself; left-anti closes it."),
      "q21_correlated_avg" ->
        ("Correlated scalar subquery decorrelated into ONE window over the customer partition - " +
          "a single hash exchange, no second scan of orders, decimal comparison inside codegen."),
      "mixture_reweight" ->
        ("Token-budget mixture selection: the running sum comes from the PrefixSum distributed scan " +
          "(range exchange + offset jobs), not a per-language window; budget scalar is broadcast."),
      "exact_substring_spans" ->
        ("ExactSubstr dedup with the 128-BIT GRAM-HASH key (r15): gram multiplicity via " +
          "partial-aggregated groupBy (hot grams combine map-side) and the positions join " +
          "back are keyed by two xxhash64 lanes - 16-byte keys instead of 8-token strings " +
          "on the one big shuffle; span merge windowed per doc (state bounded by one " +
          "document's length)."),
      "grouped_topk" ->
        ("Bounded-state top-K: partial_topk_pairs under ObjectHashAggregate BEFORE the exchange - " +
          "one O(k) state per map-partition group crosses the wire, no Window operator anywhere."),
      "graph_triangles" ->
        ("Degree-ordered wedge join: equi-joins only (orientation, wedge self-join, canonical close) - " +
          "no cartesian, no OR-condition nested loop; hub fan-out capped by the orientation."),
      "pareto_frontier" ->
        ("2-D skyline: distinct-x max aggregation, then the strict-prefix max runs as the PrefixSum " +
          "two-job scan (range exchange + broadcast offsets) - no O(N^2) dominance join, no Window."),
      "interval_max_concurrency" ->
        ("Max-rooms endpoint scan: +-1 events union, ONE range exchange for the global order, " +
          "running sum via per-partition offsets - the inherently sequential scan without a single-task window."),
      "ranked_retrieval" ->
        ("BM25 retrieval: postings filtered to the query terms BEFORE any exchange, O(|q|) df table " +
          "and O(1) corpus count broadcast, top-20 as TakeOrderedAndProject - no global sort."),
      "edit_distance_join" ->
        ("Deletion-neighborhood similarity join: variant-keyed equi-join (no cartesian), " +
          "candidate dedup then codegen'd levenshtein verify on survivors only."),
      "interval_overlap_join" ->
        ("Interval x interval overlap at fact x fact scale: grid replication + reference-cell " +
          "dedup makes it ONE equi-join on (key, cell) - no nested loop, no distinct."),
      "incremental_join_maintenance" ->
        ("Delta-join IVM: the three delta joins (dA-B0, A0-dB, dA-dB) are all equi-joins on the " +
          "view key; maintenance cost tracks the change batch, never the base table."),
      "upsert_merge_on_read" ->
        ("Merge-on-read scan: ONE scan stamps each row with its dir's data and delete " +
          "sequence, key-only delete dirs union in, max(delete seq) over a key window resolves " +
          "liveness - the read-time cost upsertMor deferred; the compacted side reads with no " +
          "window at all."),
      "salted_join_agg" ->
        ("Skew-safe salted join: fact keyed by (key, __salt) against the explode-replicated " +
          "dim - the hot key spreads over numSalts reducers; partial aggregation before the " +
          "segment exchange keeps post-join state O(groups) per task."),
      "graph_kcore" ->
        ("k-core peeling round (r7): one map-side-combined degree aggregate + two semi-joins " +
          "per round against the O(survivors) keep-set; iterates checkpointed and retired - " +
          "the plan shown is the final census over the converged core."),
      "anomaly_zscore" ->
        ("Integer z-score outlier scan (r7): O(series) stats aggregate joins back BROADCAST; " +
          "no Window, no sort on the scan side - the event scan streams straight through " +
          "the codegen'd DECIMAL(38,0) comparison."),
      "graph_link_prediction" ->
        ("Seed-cohort wedge pass (r7): seed filter BEFORE the wedge self-join, anti-join " +
          "removes existing edges, degree frame joins AQE-sized, top-100 as " +
          "TakeOrderedAndProject - equi-joins end to end."),
      "quantile_normalize" ->
        ("Cross-distribution quantile transform (r7): the reference CDF is PrefixSum's " +
          "range-exchange scan over distinct values (no one-task window), the percentile " +
          "lookup is the as-of join's single ordered window over the unioned sides."),
      "shingle_novelty" ->
        ("Min-doc attribution (r7): (doc,shingle) distinct -> g-keyed min aggregate -> join " +
          "back on g (broadcast here, co-partitioned at scale) -> doc-level census; " +
          "no pairwise comparison anywhere."),
      "asof_join_native" ->
        ("Custom physical operator (r7 s2): AsOfJoin exec node between two key-partitioned, " +
          "(key,time)-sorted children - the SMJ contract, so Catalyst inserts only missing " +
          "exchanges/sorts; one O(n+m) streaming merge per partition, no Window, no padded union."),
      "weighted_median" ->
        ("Weighted quantile (r7 s2): running weight from PrefixSum's range-exchange scan " +
          "(3 flags would otherwise funnel through 3 window tasks), broadcast totals, " +
          "min-price-covering-half-weight fold."),
      "equi_depth_histogram" ->
        ("Equi-depth buckets (r7 s2): global rank from GlobalOrder (range exchange + " +
          "per-partition offsets, NO row_number-over-empty-partition), N broadcast, " +
          "one bucket aggregate."),
      "cep_pattern_match" ->
        ("Strict-contiguity CEP (r7 s2): type filter pushed to the scan, two lead() " +
          "columns over ONE per-user sort, match census aggregate - no self-joins."),
      "embedding_covariance" ->
        ("PCA sufficient statistics (r7 s2): posexplode + vec-keyed self-join (fan-out " +
          "bounded by dims^2 per vector, never corpus^2), one (i,j) partial-aggregated fold."),
      "asof_join_tolerance" ->
        ("Tolerance-bounded as-of on the NATIVE exec (r8): AsOfJoin node with the 7-day " +
          "bound inside the merge loop - no Window, no padded union, no post-predicate; " +
          "the same SMJ-contract exchanges as the unbounded native join."),
      "seasonal_decompose" ->
        ("Additive decomposition (r8): the rolling-trend Window sits ABOVE the per-(series, day) " +
          "aggregate - O(days) window rows at any corpus scale; per-dow seasonal means join " +
          "back broadcast; shift-by-C keeps every integer division non-negative."),
      "graph_components" ->
        ("Min-label propagation to convergence (r8): per round one edges-labels equi-join + " +
          "one min aggregate, checkpoint-truncated; the dims broadcast into the edge build. " +
          "Plan shown is the converged labeling."),
      "q21b_sole_late_supplier" ->
        ("TPC-H Q21 shape decorrelated (r10): the double-correlated EXISTS/NOT-EXISTS is two " +
          "orderkey-keyed hash aggregates + a re-join - no lineitem self-join ever " +
          "materializes; supplier dim broadcasts, top-20 as TakeOrderedAndProject."),
      "holt_linear_smoothing" ->
        ("Keyed sequential integer fold (r10): ONE hash exchange by series + in-partition " +
          "sort feeds the O(1)-state mapPartitions fold; everything corpus-sized is the " +
          "upstream day aggregate - the fold touches O(series x days) rows."),
      "graph_pagerank" ->
        ("Fixed-point iterate, dangling-free lazy path (r11): the plan shown is the WHOLE " +
          "4-iteration loop as one query - each round is edges(pre-partitioned by src, " +
          "checkpointed once) JOIN iterate (referenced exactly ONCE) -> one inflow " +
          "groupBy(dst) exchange -> left join back to the static base (pre-partitioned by " +
          "node, checkpointed once). One shuffle per round; no per-iteration " +
          "materialization jobs, no crossJoin (the dangling branch never enters for a " +
          "symmetric graph); lineage truncation only every 8th round."),
      "ann_ivf_pq" ->
        ("IVF-PQ ANN (r12 dump: the registered entry is now the INTEGER-QUANTIZED twin " +
          "behind the standing SQL oracle — same joint one-shuffle-per-round Lloyd shape " +
          "as the float production path): candidates quantize+persist ONCE, all 8 PQ " +
          "subspaces + the coarse quantizer train in ONE aggregate per Lloyd round (no " +
          "per-subspace jobs), codes + cell build as one projection, per-query integer " +
          "ADC lookup tables broadcast with the queries, exact integer re-rank joins back " +
          "only the O(k*rerank) shortlist rows."),
      "incremental_offset_read" ->
        ("Per-shard OFFSET page read (r12): the constant-bound rank prefilter " +
          "(max offset + pageSize) lets InferWindowGroupLimit plant a PARTIAL " +
          "WindowGroupLimit below the window's exchange - each scan task forwards only " +
          "its per-shard top-bound rows, so the shuffle carries O(shards x bound) rows " +
          "at any table size; the exact non-constant per-shard offset bounds filter " +
          "after the (final) window."),
      "mmr_diversified_topk" ->
        ("Greedy max-min MMR (r13): the corpus enters ONCE (broadcast queries x " +
          "candidates shortlist, persisted + localCheckpointed); every greedy round " +
          "reads checkpointed O(queries x shortlist) blocks - anti-join, min-div " +
          "aggregate, 1-row-per-query pick - so the plan shown is tiny joins over " +
          "truncated lineage, never a corpus re-scan."),
      "multimodal_phash" ->
        ("DCT perceptual hash (r13): docs explode to O(docs x 64) block rows, ONE " +
          "broadcast join against the 1984-row integer cosine basis, one partial-" +
          "aggregated (doc, k) fold - corpus-linear, the only exchange is the " +
          "doc-keyed aggregate; median+packing run as codegen'd HOFs per doc."),
      "dtw_series_distance" ->
        ("All-pairs DTW (r13): the corpus collapses to O(series) month arrays " +
          "first (two aggregates), the k x k pair frame is tiny, and the O(L^2) " +
          "DP runs as per-pair imperative state inside ONE mapPartitions - no " +
          "wavefront joins, no per-cell shuffles; scale lives in the upstream " +
          "aggregate, the DP is calendar-bounded."),
      "approx_distinct" ->
        ("Replayable HLL twin (r14): the x^17-mod-Mersenne hash and register " +
          "split run codegen'd in the scan projection; register max is a " +
          "partial-aggregated groupBy (<= 256 rows cross the wire per side - " +
          "the mergeable-sketch shape), the estimator a 1-row projection; " +
          "user and event registers build in parallel branches of one plan."),
      "variant_shred" ->
        ("VARIANT shred (r14): drift guards (json_object_keys + filter) and " +
          "from_json evaluate in ONE codegen'd projection over the scan - no " +
          "second pass, no driver-side JSON; the nested struct/array fields " +
          "project out as ordinary columns."),
      "freq_tokens_topk_approx" ->
        ("Replayable CMS twin (r14): tokens explode x4 rows into a partial-" +
          "aggregated (row, bucket) count - at most 4 x 8192 counters cross " +
          "the wire per map side; the 50 probes broadcast-join the counter " +
          "frame and take min-of-rows."),
      "multimodal_decode_real" ->
        ("REAL PNG codec round trip (r15): grid synthesis, PngEncode, " +
          "ImageDecode and the pixel aggregates all evaluate in ONE " +
          "projection over the scan - zero shuffles before the output sort; " +
          "the codec kernels are per-row expression calls, so the operator " +
          "is embarrassingly parallel at any corpus size."),
      "graph_betweenness_sampled" ->
        ("Sampled-pivot Brandes (r15 bench headline): ALL pivots advance " +
          "together as one (s, node) frame - per BFS level one " +
          "frontier-edges equi-join + one partial-aggregated sigma " +
          "groupBy + one anti-join against the settled set, per backward " +
          "level one successor equi-join; state is O(pivots x reached), " +
          "lineage checkpoint-truncated per level. The plan shown is the " +
          "final dependency census over the converged sweep."))
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit artifact\n\n")
    sb.append("Generated by `graft.tools.PlanDump` at sf0.01 (plans are scale-" +
      "independent in shape). Properties asserted mechanically in " +
      "`PlanAuditSpec`; this file is the human-readable excerpt.\n")
    picks.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE so join strategies/codegen stages are real
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    spark.stop()
  }
}
