"""Physical-plan audit (SURVEY.md §4): after correctness, verify each
headline query compiles to the plan we designed for scale — broadcast where a
side is small, pushdown at the scan, no cartesian products, codegen spans.

Run: python -m clusterindices_spark.plans.audit [sf_dir]
Exits non-zero if any expectation fails; tests call `audit_all` directly.
"""

from __future__ import annotations

import sys
from contextlib import contextmanager

from pyspark.sql import SparkSession

# per-query plan expectations: substrings that MUST appear / must NOT appear
# in the executed plan strings of the returned frame and of every frame the
# query localCheckpoints while it is built ("forbid_returned": must not
# appear in the returned frame's plan)
EXPECTATIONS: dict[str, dict[str, list[str]]] = {
    "scan_project_filter": {
        # "*(" is the WholeStageCodegen stage marker in plan toString()
        "require": ["PushedFilters: [", "*("],
        "forbid": ["CartesianProduct"],
    },
    "join_broadcast": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "join_sortmerge": {
        # AQE may choose SMJ or shuffled-hash; either is a partitioned join
        "require": ["Join"],
        "forbid": ["BroadcastNestedLoopJoin", "CartesianProduct"],
    },
    "join_range": {
        # equi component on user_id must make this a partitioned equi-join
        # with the range predicate as join condition — never a pure BNLJ
        "require": [],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "index_suite": {
        # centroid side rides a broadcast; the only wide exchange is the
        # groupBy over K clusters
        "require": ["Broadcast"],
        "forbid": ["CartesianProduct"],
    },
    "assign_nearest_centroid": {
        "require": ["Broadcast"],
        "forbid": ["SortMergeJoin"],
    },
    "topk_orders": {
        "require": ["TakeOrderedAndProject"],
        "forbid": ["Exchange rangepartitioning"],  # no global sort
    },
    "agg_basic": {
        "require": ["partial"],  # two-phase agg (partial_ prefix on agg exprs)
        "forbid": ["CartesianProduct"],
    },
    "similarity_topk_exact": {
        "require": ["Broadcast"],  # probe side broadcast
        "forbid": ["SortMergeJoin"],
    },
    "tpch_q1": {
        "require": ["PushedFilters: [", "partial"],
        "forbid": ["CartesianProduct"],
    },
    "tpch_q3": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct"],
    },
    "tpch_q5": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "tpch_q6": {
        "require": ["PushedFilters: [", "partial"],
        "forbid": ["Join"],  # pure scan+agg: no join may appear at all
    },
    "tpch_q14": {
        "require": ["BroadcastHashJoin", "PushedFilters: ["],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "tpch_q18": {
        "require": ["partial", "TakeOrderedAndProject"],
        "forbid": ["CartesianProduct"],
    },
    "agg_grouping_sets": {
        "require": ["Expand", "partial"],  # grouping-sets lattice via Expand
        "forbid": ["CartesianProduct"],
    },
    "window_distribution": {
        "require": ["Window"],
        "forbid": ["CartesianProduct"],
    },
    "sequence_dates": {
        # 80-row calendar spine must broadcast against the aggregated side
        "require": ["Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "similarity_ann_ivf": {
        # centroid table rides broadcasts; cell-probe join is an equi join
        "require": ["Broadcast"],
        "forbid": ["CartesianProduct"],
    },
    "tpch_q7": {
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct"],
    },
    "tpch_q13": {
        # left outer against pre-filtered orders; no cartesian anywhere
        "require": ["LeftOuter"],
        "forbid": ["CartesianProduct"],
    },
    "tpch_q15": {
        # one-row max broadcast back onto the aggregated view
        "require": ["Broadcast"],
        "forbid": ["CartesianProduct"],
    },
    "tpch_q17": {
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct"],
    },
    "tpch_q22": {
        # anti join must plan as a (broadcast) hash anti join
        "require": ["Anti"],
        "forbid": ["CartesianProduct"],
    },
    "subquery_scalar": {
        # correlated scalar subquery de-correlates to agg + join — a
        # surviving correlated subquery would show as a nested plan re-run
        "require": ["Join"],
        "forbid": ["CartesianProduct"],
    },
    "subquery_in": {
        "require": ["Semi", "Anti"],
        "forbid": ["CartesianProduct"],
    },
    "distinct_latest": {
        # rn=1 must trigger the WindowGroupLimit rewrite: per-partition
        # partial top-1 BEFORE the shuffle (the window analog of map-side
        # combine) — a bare Window sort here would ship every row
        "require": ["WindowGroupLimit", "Partial"],
        "forbid": ["CartesianProduct"],
    },
    "join_asof": {
        # max_by rewrite: hash agg with partial aggregation, not a window sort
        "require": ["partial_max_by"],
        "forbid": ["Window", "CartesianProduct"],
    },
    "cluster_chi2": {
        # K-row marginals: everything broadcastable, no wide exchange beyond
        # the contingency groupBy
        "require": ["Broadcast"],
        "forbid": ["SortMergeJoin"],
    },
    "tpch_q8": {
        # every dim (part, customer, supplier, 2×nation, region) broadcasts;
        # the only SMJ-eligible join is lineitem⋈orders
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "silhouette_sqeuclid": {
        # per-point math against 1-row folded centroid + correction tables:
        # broadcasts only, never a partitioned join of the points
        "require": ["Broadcast"],
        "forbid": ["SortMergeJoin", "Exchange rangepartitioning"],
    },
    "calinski_harabasz": {
        "require": ["Broadcast", "partial"],
        "forbid": ["SortMergeJoin"],
    },
    "curation_split": {
        # pure scan-side fold: no exchange of any kind in the plan
        "require": ["*("],
        "forbid": ["Exchange", "Join"],
    },
    "curation_pipeline": {
        # quality/langid predicates fuse into the scan stage; dedup groupBy
        # and per-lang agg are the only exchanges, both with partial aggs
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "curation_pack_greedy": {
        # one round-robin/hash repartition feeding ArrowEvalPython-free
        # mapInPandas (MapInPandas node), sorted within partitions
        "require": ["MapInPandas", "Sort"],
        "forbid": ["Exchange rangepartitioning", "CartesianProduct"],
    },
    "tpch_q2": {
        # supplier/nation/region/part broadcast; per-part min re-joined
        # without any nested-loop fallback
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "tpch_q9": {
        # supplycost via window MIN over (partkey,suppkey): exactly one
        # lineitem scan (the groupBy-join-back variant had two)
        "require": ["Window", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "tpch_q16": {
        # complaint-supplier exclusion is a broadcast ANTI join; distinct
        # pair derivation carries partial aggregation
        "require": ["Anti", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "tpch_q21": {
        # EXISTS/NOT-EXISTS pair → semi + anti joins, dims broadcast
        "require": ["Semi", "Anti", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct"],
    },
    "curation_sample_stratified": {
        # pure scan-side filter: no exchange of any kind
        "require": ["*("],
        "forbid": ["Exchange", "Join"],
    },
    "curation_sample_topk": {
        # partial + final WindowGroupLimit around the one exchange
        "require": ["WindowGroupLimit", "Partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "text_unigram_logprob": {
        # vocab broadcasts back onto the exploded corpus
        "require": ["Broadcast", "partial"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "dedup_graph_triangles": {
        # wedge build + closure are partitioned equi-joins (HashJoin nodes);
        # two-phase aggs for degrees/counts. The only nested-loop is the
        # final 1-row broadcast combine of the three summary frames — so
        # forbid CartesianProduct (an unbroadcast pair enumeration), not
        # BroadcastNestedLoopJoin.
        "require": ["partial", "HashJoin"],
        "forbid": ["CartesianProduct"],
    },
    "merge_upsert_cdc": {
        # MERGE = anti join + union; no nested-loop anywhere
        "require": ["Anti", "Union"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "events_outliers": {
        # per-type moments broadcast back over the scan
        "require": ["Broadcast", "partial"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "index_suite_ext": {
        # same posture as index_suite: centroids/global centroid broadcast
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "cluster_external_agreement": {
        # marginals broadcast back over the K×L contingency
        "require": ["Broadcast"],
        "forbid": ["SortMergeJoin"],
    },
    "ratkowsky_lance": {
        # per-dim stats partial-agg'd; global centroid broadcast back
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "text_repetition_stats": {
        # fraction columns scan-side; the only shuffle is the (doc,tok)
        # count with map-side combine
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "curation_decontaminate": {
        # eval shingle set must BROADCAST — the corpus side never shuffles
        # for the probe
        "require": ["BroadcastHashJoin"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    "udf_cogrouped_asof": {
        # the cogroup tier's physical operator
        "require": ["FlatMapCoGroupsInPandas"],
        "forbid": ["CartesianProduct"],
    },
    "join_interval_binned": {
        # keyless interval join MUST plan as a bucket equi-join — the naive
        # plan for this query is a nested-loop scan
        "require": ["Join"],
        "forbid": ["BroadcastNestedLoopJoin", "CartesianProduct"],
    },
    # --- round-3 keys ---
    "text_pii_scrub": {
        # pure scan-side regexp work: no join, no exchange of any kind
        "require": ["*("],
        "forbid": ["Join", "Exchange"],
    },
    "agg_quantiles": {
        # exact percentile is a typed (object-hash) aggregate with a
        # partial phase — map-side state merge still applies
        "require": ["ObjectHashAggregate", "partial"],
        "forbid": ["Join", "CartesianProduct"],
    },
    "similarity_knn_graph": {
        # r14: cell assignment/probing is the vectorized Arrow kernel
        # (MapInArrow — the centroid table travels as a driver-bounded
        # closure instead of a broadcast relation, still zero shuffle);
        # candidate meet is an equi-join on cell; per-probe top-k prunes
        # before the rank shuffle
        "require": ["MapInArrow", "WindowGroupLimit"],
        "forbid": ["CartesianProduct"],
    },
    "similarity_knn_graph_auto": {
        # same machinery as the K=16 twin on the sqrt-n cell sizing —
        # identical plan shape, different (data-derived) cell count
        "require": ["MapInArrow", "WindowGroupLimit"],
        "forbid": ["CartesianProduct"],
    },
    "embedding_pq_codes": {
        # the per-subspace encode argmin is the vectorized Arrow kernel
        # (MapInArrow, codebook = driver-bounded closure): zero-shuffle on
        # the corpus side; the only wide exchange is the vec_id reassembly
        # agg, which stays two-phase
        "require": ["MapInArrow", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "similarity_ann_pq": {
        # per-probe distance tables are an explicit tiny broadcast against
        # the codes scan (BroadcastNestedLoopJoin is the INTENDED operator
        # for that 10-row side); the corpus must not hit a cartesian
        "require": ["Broadcast", "WindowGroupLimit"],
        "forbid": ["CartesianProduct"],
    },
    "similarity_ann_ivfpq": {
        # probed-cell pruning is a cell equi-join against broadcast tables;
        # shortlists + re-rank are candidate-scale broadcasts
        "require": ["Broadcast", "WindowGroupLimit"],
        "forbid": ["CartesianProduct"],
    },
    "analytics_rfm": {
        # quintile boundaries and the date anchor are 1-row broadcasts;
        # scoring must not introduce a global-sort window
        "require": ["Broadcast"],
        "forbid": ["CartesianProduct", "Window"],
    },
    "events_markov_transition": {
        "require": ["Window", "partial"],
        "forbid": ["CartesianProduct"],
    },
    "basket_pair_lift": {
        # orderkey self-join (partitioned equi) + post-agg broadcast
        # marginals; the 1-row total crossJoin compiles to an intended
        # BroadcastNestedLoopJoin, so only a true cartesian is forbidden
        "require": ["Join", "partial"],
        "forbid": ["CartesianProduct"],
    },
    # --- round-3b additions ---
    "wemmert_gancarski": {
        # rides point_metrics: 1-row folded-centroid broadcast, K-group agg
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "sd_index": {
        # per-dim variance aggs with map-side combine; K²-scale tail only
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "s_dbw": {
        # pair-density probe must be the broadcast equi-join on cluster
        # (the explode'd pair table), never a shuffled or nested-loop pair
        # scan over the points
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "cluster_agreement_ext": {
        # contingency marginals broadcast back over the K×L counts
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "dedup_span_coverage": {
        # inverted index: span-keyed agg must carry a map-side partial;
        # the df join back may be SMJ or SHJ (both partitioned equi-joins)
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "sql_recursive_months": {
        # 80-row recursive ladder must broadcast against the orders scan
        "require": ["Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "scalar_variant": {
        # pure scan-side expression work: no exchange at all
        "require": ["*("],
        "forbid": ["Exchange", "Join"],
    },
    # --- round-3c additions ---
    "text_bigram_logprob": {
        # bigram counts shuffle with map-side combine; the two unigram
        # vocab attachments must be broadcast joins, never shuffled
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct"],
    },
    "pair_validity": {
        # guarded yardstick: broadcast NLJ over the capped input is the
        # intended plan; only a true cartesian (no condition) is forbidden
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "events_outliers_seasonal": {
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # --- round-3d additions ---
    "dedup_ngram_containment": {
        # same candidate pipeline contract as ngram_jaccard: shingle
        # equi-join + pair-scale broadcast size attachment
        "require": ["Join", "partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "multimodal_dhash": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],  # scan→Python→agg only
    },
    "multimodal_audio_fingerprint": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "events_cohort_ltv": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # --- round-4 additions ---
    "text_entropy": {
        # explode → two map-side-combined aggs; no joins anywhere
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "dedup_normalized_exact": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "events_user_overlap": {
        # per-user self-join is an equi-join; T-row size tables broadcast
        "require": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "curation_mixture_temperature": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "similarity_range_search": {
        # probe side broadcast, τ-filter scan-side, no shuffle join
        "require": ["Broadcast"],
        "forbid": ["SortMergeJoin"],
    },
    "window_interval_merge": {
        # one user_id exchange feeding windows + agg; no joins
        "require": ["Window", "partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "agg_bool_modal": {
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "scalar_struct": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "events_rollup_hierarchy": {
        # raw scanned once; daily grain folds the hourly agg, no joins
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "join_bloom_prefilter": {
        # the bloom test must run scan-side (xxhash64 in a Filter), and the
        # exact join must be the broadcast form
        "require": ["xxhash64", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "events_ewma_smooth": {
        # hourly agg + lag window on the same event_type partitioning
        "require": ["Window", "partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "events_rolling_zscore": {
        "require": ["Window", "partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "events_gap_stats": {
        "require": ["Window", "partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "scalar_bitwise": {
        # pure scan-side expression work
        "require": ["*("],
        "forbid": ["CartesianProduct", "Join", "Exchange"],
    },
    "curation_dedup_keep_best": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "join_asof_forward": {
        # equi component keeps it a partitioned join + map-side-combined agg
        "require": ["Join", "partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "agg_filter_clause": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    # --- round-5 additions (VERDICT r4 item 5: the heavy unaudited keys) ---
    "events_pareto_concentration": {
        # the global rank must be the RANGE-PARTITIONED form (functions/
        # ranking.py): range exchange + pid-partitioned window; a regression
        # to Window.partitionBy() would reintroduce Exchange SinglePartition
        "require": ["Exchange rangepartitioning", "_rr_pid"],
        "forbid": ["Exchange SinglePartition", "CartesianProduct"],
    },
    "text_zipf_fit": {
        # same range-partitioned rank contract; the final 1-row OLS agg
        # legitimately funnels 32 partial rows, so SinglePartition cannot be
        # forbidden outright — requiring the _rr_pid window partitioning
        # proves the DATA-SCALE sort is parallel
        "require": ["Exchange rangepartitioning", "_rr_pid", "partial"],
        "forbid": ["CartesianProduct"],
    },
    "dedup_components": {
        # the fixture pair graph fits the star engine's edge budget: its
        # driver-labelled components come back as a LocalTableScan that is
        # equi-joined onto the nodes, and n_members is a window count
        "require": ["LocalTableScan", "Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "dedup_cluster_keep_best": {
        # components engine + one doc_id equi-join (n_chars attach) + one
        # component-keyed max_by/sum agg — same posture as the components
        # report, never a nested loop
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "dedup_components_star": {
        # same engine and report as dedup_components
        "require": ["LocalTableScan", "Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "dedup_graph_pagerank": {
        # integer PageRank: contribs are partitioned equi-joins; the 1-row
        # dangling-mass attach is an INTENDED broadcast NLJ, so only a true
        # cartesian is forbidden. The returned frame reads the iteration's
        # localCheckpoint, so aggregate markers live in earlier (cut) stages.
        "require": [],
        "forbid": ["CartesianProduct"],
    },
    "dedup_graph_hops": {
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "text_tfidf_topterms": {
        # per-doc top-k must ride WindowGroupLimit (partial top-k before the
        # shuffle); DF attach is a broadcast
        "require": ["WindowGroupLimit", "partial"],
        "forbid": ["CartesianProduct"],
    },
    "events_dau_wau": {
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "text_js_divergence": {
        # global totals are 1-row broadcast attaches; per-source grid joins
        # broadcast, never shuffled
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "dedup_cross_source": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "dedup_token_inflation": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "events_last_touch": {
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "events_hour_of_week": {
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "events_funnel_latency": {
        # stepwise transitions via min_by/percentile aggs, not a window sort
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "embedding_dim_stats": {
        # posexplode → (dim)-keyed agg with map-side combine; no joins
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "embedding_norm_audit": {
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "text_vocab_stats": {
        "require": ["partial"],
        "forbid": ["CartesianProduct"],
    },
    "curation_kfold": {
        # deterministic-hash fold assignment is scan-side; per-fold agg only
        "require": ["partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "multimodal_type_routing": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # --- round-5 new-operator keys ---
    "text_readability": {
        # explode → doc-keyed agg, zero joins
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "dedup_minhash_est": {
        # candidate pipeline + signature attach: equi joins only
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "dedup_chunk_exact": {
        # duplicated-fingerprint set broadcasts back (semi join)
        "require": ["partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "embedding_matryoshka": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "embedding_binary_quantize": {
        # pure scan-side bit packing
        "require": ["*("],
        "forbid": ["Exchange", "Join"],
    },
    "similarity_hamming_topk": {
        # probe codes broadcast; per-probe top-k rides WindowGroupLimit
        "require": ["Broadcast", "WindowGroupLimit"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "events_user_lifecycle": {
        "require": ["Window", "partial"],
        "forbid": ["CartesianProduct"],
    },
    "curation_filter_funnel": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "join_asof_nearest": {
        # min_by hash agg like its as-of siblings, never a window sort
        "require": ["partial_min_by"],
        "forbid": ["Window", "CartesianProduct"],
    },
    "multimodal_audio_silence": {
        "require": ["MapInPandas"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "sql_pipe_syntax": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "scalar_interval_arith": {
        "require": ["*("],
        "forbid": ["Exchange", "Join"],
    },
    "similarity_mmr_rerank": {
        # the returned frame reads the final selection's localCheckpoint
        # (the r5 lineage-cut fix), so the broadcast-pool joins and the
        # per-step unions live in earlier CUT stages — like pagerank, only
        # the no-cartesian floor is assertable on the returned plan
        "require": [],
        "forbid": ["CartesianProduct"],
    },
    "text_lm_heldout_score": {
        # train-half vocab broadcasts; score half never shuffles pre-agg
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "text_lang_confusion": {
        "require": ["partial", "Window"],
        "forbid": ["CartesianProduct", "Join"],
    },
    "embedding_pair_distance_hist": {
        # probe side broadcast; 20-bin agg with map-side combine
        "require": ["Broadcast", "partial"],
        "forbid": ["SortMergeJoin"],
    },
    "scalar_url_parse": {
        "require": ["*("],
        "forbid": ["Exchange", "Join"],
    },
    "events_error_rate": {
        # hourly agg + 1-row broadcast global attach
        "require": ["Broadcast", "partial"],
        "forbid": ["SortMergeJoin"],
    },
    "events_autocorr": {
        # per-type lag self-join is an equi join; exact-sum aggs
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "multimodal_near_dup_report": {
        # band explode → bucket equi-join (partitioned) → popcount filter
        # → doc agg; never an all-pairs product
        "require": ["Generate", "partial_"],
        "forbid": [
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Exchange SinglePartition",
        ],
    },
    "join_salted_skew": {
        # the join must run on the salted key (__salt in the plan); dim
        # explode = Generate; never a cartesian
        "require": ["__salt", "Generate", "partial_"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "dedup_simhash_est": {
        # pinned fingerprint explode → 16-agg bit votes → pair-scale
        # signature joins → ≤17-group calibration agg
        "require": ["partial_"],
        "forbid": [
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Exchange SinglePartition",
        ],
    },
    "dedup_minhash_pr_curve": {
        # pinned scored universe + signature joins; r13: the τ grid is a
        # compile-time constant, so the pair frame is walked ONCE by 18
        # conditional partial aggregates and the final fold is a scalar
        # SinglePartition exchange of one 19-number partial row per task
        # (the sanctioned final-fold shape); the τ rows unpivot from
        # literals via Generate AFTER the fold
        "require": ["Generate", "partial_"],
        "forbid": [
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
    },
    "dedup_graph_kcore": {
        # unrolled peel rounds: doc-keyed semi-joins + degree aggs over a
        # checkpointed pair-scale edge list; no quadratic anywhere
        "require": ["partial_"],
        "forbid": [
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Exchange SinglePartition",
        ],
    },
    "agg_quantiles_bucketed": {
        # shared B-row CDF + winning-bucket refinement; candidate broadcast
        "require": ["Window", "partial_", "Broadcast"],
        "forbid": [
            "CartesianProduct",
            "SortMergeJoin",
            "Exchange SinglePartition",
        ],
    },
    "agg_weighted_median": {
        # bucketed-CDF passes: windows only over B-row/winning-bucket
        # frames, 3-row candidate broadcast, map-side-combined histograms
        "require": ["Window", "partial_", "Broadcast"],
        "forbid": [
            "CartesianProduct",
            "SortMergeJoin",
            "Exchange SinglePartition",
        ],
    },
    "scd2_status_intervals": {
        # customer-partitioned windows + (customer, island) agg; join-free
        "require": ["Window", "partial_"],
        "forbid": ["CartesianProduct", "Join", "Exchange SinglePartition"],
    },
    "events_markov_entropy": {
        # user-lag window + |types|²-key agg; the rest broadcast-scale
        "require": ["Window", "partial_", "Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "events_survival_km": {
        # corpus → U-row user agg → T-row curve; the ordered curve windows
        # run over T rows (the sanctioned driver-scale single partition)
        "require": ["Window", "partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "events_bootstrap_ci": {
        # the B-way Generate feeds straight into a map-side-combined
        # (type, rep) agg — shuffle is K·B rows; per-type sort is B values
        "require": ["Generate", "partial_"],
        "forbid": [
            "CartesianProduct",
            "SortMergeJoin",
            "Exchange SinglePartition",
        ],
    },
    "events_ab_ttest": {
        # one corpus-scale moment agg; the K²-row pair frame rides a
        # broadcast non-equi join (type_a < type_b over K rows — the
        # sanctioned driver-scale BNLJ)
        "require": ["partial_", "Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "events_cusum": {
        # hourly agg + K-row per-type mean broadcast; both CUSUM windows
        # partition by event_type — never a single-partition window
        "require": ["Broadcast", "Window", "partial"],
        "forbid": [
            "CartesianProduct",
            "SortMergeJoin",
            "Exchange SinglePartition",
        ],
    },
    "curation_anneal_mixture": {
        # one map-side token agg to K source rows + a K×T Generate;
        # totals are driver-side literals
        "require": ["partial_", "Generate"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin", "Window",
                   "Exchange SinglePartition"],
    },
    "scalar_ipv4_cidr": {
        # pure codegen scan: shift/mask ntoa, split aton, zero exchanges
        "require": ["*("],
        "forbid": ["Exchange", "Join", "CartesianProduct"],
    },
    "events_cuped": {
        # user-keyed conditional agg + scalar moment agg (q6 shape)
        "require": ["partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin", "Window"],
    },
    "events_diff_in_diff": {
        # ONE conditional-aggregation pass (12 map-side partials); the
        # scalar agg's SinglePartition exchange moves partial rows only
        # (the q6 shape) — join/window-free
        "require": ["partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin", "Window"],
    },
    "events_power_mde": {
        # one map-side-combined per-type moment agg, pure projection after
        "require": ["partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin", "Window",
                   "Exchange SinglePartition"],
    },
    "agg_bitmap_distinct": {
        # two map-side-combined agg rounds ((type,word) → type); the raw
        # ids never shuffle — only OR'd words do
        "require": ["partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin", "Window",
                   "Exchange SinglePartition"],
    },
    "agg_equidepth_histogram": {
        # range-partitioned global rank + B-group agg (the gini shape)
        "require": ["Exchange rangepartitioning", "partial_", "Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "text_bpe_train_merges": {
        # the training loop runs as 5 V-scale TakeOrdered jobs over the
        # eagerly-checkpointed vocab (its aggregate's Exchange is in the
        # checkpointed frame's plan); the RETURNED plan is the learned
        # 5-row merge table (the dim_covariance collect-then-local shape)
        "require": ["Scan ExistingRDD"],
        "forbid": ["CartesianProduct", "Join"],
        "forbid_returned": ["Exchange"],
    },
    "versioned_snapshot_diff": {
        # two time-travel reads full-outer SMJ'd on the key (partitioned
        # equi join — full outer cannot broadcast) + 4-group agg
        "require": ["FullOuter", "partial_"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "Exchange SinglePartition"],
    },
    "events_pattern_match": {
        # ordered per-user sequence assembly (ObjectHashAggregate over
        # (event_id, letter) structs) + scan-side regex — join-free
        "require": ["ObjectHashAggregate", "partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin", "Exchange SinglePartition"],
    },
    "events_gini_activity": {
        # range-partitioned global rank (ranking.py) + P-row offsets
        # broadcast; the final scalar agg's SinglePartition exchange moves
        # partial rows only (the tpch_q6 shape) — so it is NOT forbidden
        "require": ["Exchange rangepartitioning", "partial_", "Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "source_jsonl_roundtrip": {
        # write→JSONL→schema'd FAILFAST read→agg; the read side must be a
        # json FileScan (escaping roundtrip is what the oracle hashes)
        "require": ["FileScan json", "partial_"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "text_pmi_bigrams": {
        # bigram count agg (map-side combined) + two broadcast vocab
        # attaches; totals are driver-side literals — a 1-row global agg
        # would reintroduce Exchange SinglePartition + a BNLJ attach
        "require": ["partial_", "BroadcastHashJoin", "Generate"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "Exchange SinglePartition"],
    },
    "join_spatial_radius": {
        # 3×3 neighbor Generate + cell-id equi-join (broadcast at gate
        # SFs, partitioned at scale) + exact integer d² filter — NEVER a
        # cross product; the brute force lives only in the oracle
        "require": ["Generate"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "Exchange SinglePartition"],
    },
    "events_attribution_linear": {
        # last_touch's user-keyed window join + purchase-partitioned count
        # window + K-row channel rollup
        "require": ["Window", "partial_"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "Exchange SinglePartition"],
    },
    "embedding_random_projection": {
        # one MapInArrow over the scan with a driver-built constant sign
        # matrix — ZERO exchanges, no joins (the definitional unnest-join
        # lives only in the DuckDB oracle)
        "require": ["MapInArrow", "FileScan"],
        "forbid": ["Exchange", "CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin"],
    },
    "dedup_url_canonical": {
        # scan-side string canonicalization + ONE hash agg on the
        # canonical key (count-distinct adds the second partial pass);
        # join- and window-free ("Join" itself would false-positive on the
        # array_join projection expression — lowercase substring match)
        "require": ["partial_", "*("],
        "forbid": ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                   "BroadcastNestedLoopJoin", "Window",
                   "Exchange SinglePartition"],
    },
    "text_code_detect": {
        # embarrassingly parallel: pure codegen scan, ZERO exchanges
        "require": ["*("],
        "forbid": ["Exchange", "Join", "CartesianProduct"],
    },
    "agg_incremental_mv": {
        # delta derivation joins ride broadcasts; the base⟗delta combine
        # is a K-row (≤|status| groups) full-outer SMJ — sanctioned tiny;
        # both agg branches map-side combine
        "require": ["partial_", "BroadcastHashJoin"],
        "forbid": [
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Exchange SinglePartition",
        ],
    },
    "events_streak_lengths": {
        # distinct (user,day) agg map-side combines; island window and the
        # two downstream aggs are user-keyed; join-free throughout
        "require": ["Window", "partial_"],
        "forbid": ["CartesianProduct", "Join", "Exchange SinglePartition"],
    },
    "events_changepoint_loc": {
        # hourly agg → per-type windows → per-type argmax agg; the stat is
        # exact BIGINT so the argmax needs no float-ordering guard
        "require": ["Window", "partial_"],
        "forbid": [
            "CartesianProduct",
            "Join",
            "Exchange SinglePartition",
        ],
    },
    "events_interarrival_fit": {
        # (type,user) lag window, map-side histogram, K-row stats attach
        # via BroadcastHashJoin (gaps exchange REUSED across both branches),
        # final window over ≤#bins rows per type
        "require": ["Window", "partial_", "BroadcastHashJoin"],
        "forbid": [
            "CartesianProduct",
            "SortMergeJoin",
            "Exchange SinglePartition",
        ],
    },
    "text_ngram_novelty": {
        # first-seen join is an equi join on the bigram key (broadcast at
        # fixture scale, partitioned at 100 TB — either is fine); map-side
        # combined vocab agg
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "curation_waterfill_budget": {
        # corpus token sum (map-side) → K-row source table; the K-row
        # SinglePartition windows and 1-row level BNLJ are the sanctioned
        # driver-scale closed form
        "require": ["Window", "partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "curation_dsir_weights": {
        # scored vocab broadcasts to the exploded corpus; the only BNLJ is
        # the sanctioned 1-row consts attach (error_rate pattern)
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "curation_domain_caps": {
        # source-partitioned window (parallel across sources), one agg
        "require": ["Window", "partial"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "curation_source_lang_mix": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "dedup_semantic_clusters": {
        # star rounds over the checkpointed cosine edge list; the final
        # membership window partitions by component
        "require": ["Window"],
        "forbid": ["CartesianProduct"],
    },
    "dedup_semantic_clusters_ann": {
        # the 100 TB tier (r12: IVF cell co-bucketing replaced the
        # non-pruning MLlib LSH): candidate meet is an equi-join on cell
        # — no quadratic anywhere (the exact tier's guarded data-scale
        # crossJoin must NOT appear; the only broadcast is the 1-row
        # folded centroid table)
        "require": ["Window"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "events_forecast_baseline": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "text_heavy_hitters_cms": {
        # probe selection is TakeOrderedAndProject (parallel per-partition
        # top-K heaps) — NEVER an empty-partition row_number window over
        # the vocab-scale exact-count frame (VERDICT r5 "What's wrong" #1)
        "require": ["TakeOrderedAndProject", "partial"],
        "forbid": ["Window", "Exchange SinglePartition", "CartesianProduct"],
    },
    # --- round-6 widening (VERDICT r5 item 7): per-key entries for the
    # remaining nontrivial-topology keys, written from the surveyed
    # EXECUTED plans at sf0.01 so every require reflects the real shape ---
    "dedup_exact": {
        # one map-side-combined hash agg, nothing else
        "require": ["partial", "PushedFilters: ["],
        "forbid": ["Join", "Window", "Exchange SinglePartition"],
    },
    "dedup_ngram_jaccard": {
        # shingle explode (Generate) + inverted-index equi-joins; the
        # stop-shingle cap rides a broadcast anti join
        "require": ["Generate", "BroadcastHashJoin", "LeftAnti", "partial"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "dedup_near_minhash": {
        # the fixture corpus fits the MinHash driver finish's budget: the
        # verified pairs come back as a LocalTableScan, with no join left
        # in the plan (above the budget: explode + (band, bucket) join,
        # guarded by tests/test_minhash_lsh.py::test_spark_path_plan)
        "require": ["LocalTableScan"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition", "Join"],
    },
    "dedup_simhash": {
        # 64-bit fingerprint via exploded token hashes; the rotation-table
        # BNLJ is a broadcast K-row literal frame (bounded, not data²)
        "require": ["Generate", "partial"],
        "forbid": ["CartesianProduct"],
    },
    "similarity_ann_lsh": {
        # MLlib BRP-LSH: hash explode + bucket equi-join, WindowGroupLimit
        # bounds the per-probe top-k before the final rank
        "require": ["Generate", "WindowGroupLimit", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "window_rank": {
        # keyed window (WindowGroupLimit pushes the rank filter down);
        # never a global single-partition sort
        "require": ["Window", "WindowGroupLimit", "partial"],
        "forbid": ["Exchange SinglePartition", "Join"],
    },
    "tpch_q4": {
        "require": ["LeftSemi", "BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "tpch_q10": {
        "require": ["BroadcastHashJoin", "TakeOrderedAndProject", "partial"],
        "forbid": ["CartesianProduct", "Exchange rangepartitioning"],
    },
    "tpch_q11": {
        # the global-threshold scalar subquery is a 1-row broadcast (its
        # SinglePartition exchange feeds a single-row agg, not data-scale)
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "tpch_q12": {
        "require": ["BroadcastHashJoin", "PushedFilters: [", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "tpch_q19": {
        # OR-of-ANDs predicate join: must stay a broadcast equi-join on
        # partkey with the residual as filter — never a BNLJ over lineitem
        "require": ["BroadcastHashJoin", "PushedFilters: [", "partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "tpch_q20": {
        # nested semi-join chain; the partsupp-side agg join may be SMJ
        # (both sides fact-scale) — that SMJ is the designed plan
        "require": ["LeftSemi", "BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "events_funnel": {
        # step joins are broadcast equi-joins; the funnel totals ride a
        # 1-row BNLJ attach (bounded)
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "events_retention": {
        "require": ["BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "versioned_merge_snapshot": {
        # COW merge resolves to a partition-pruned scan of rewritten files
        "require": ["PushedFilters: ["],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "versioned_mor_snapshot": {
        # MOR read = base scan ANTI JOIN equality-deletes (broadcast-size
        # delete files), the whole point of the merge-on-read layout
        "require": ["LeftAnti", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "join_semi_anti": {
        "require": ["LeftSemi", "LeftAnti", "BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "agg_rollup": {
        # rollup lattice via Expand + two-phase agg
        "require": ["Expand", "partial"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "agg_cube": {
        "require": ["Expand", "partial"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "pivot_wide": {
        "require": ["partial"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "unpivot_long": {
        # unpivot lowers to Expand — pure scan-side, no shuffle at all
        "require": ["Expand"],
        "forbid": ["Join", "Exchange SinglePartition"],
    },
    "window_frame": {
        "require": ["Window"],
        "forbid": ["Exchange SinglePartition", "Join"],
    },
    "window_range_frame": {
        "require": ["Window"],
        "forbid": ["Exchange SinglePartition", "Join"],
    },
    "window_fill_forward": {
        "require": ["Window"],
        "forbid": ["Exchange SinglePartition", "Join"],
    },
    "udtf_sentences": {
        # Python UDTF boundary is the point of the key (sanctioned
        # BatchEvalPython); nothing else may shuffle
        "require": ["BatchEvalPython"],
        "forbid": ["Join", "Exchange SinglePartition"],
    },
    "multimodal_decode_real": {
        # the ONE sanctioned Arrow boundary: MapInPandas at the decode
        "require": ["MapInPandas"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "embedding_centroid_drift": {
        "require": ["Generate", "BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "events_user_lifecycle": {
        # per-user week windows + broadcast week-spine joins; the 1-row
        # global attach is a bounded BNLJ
        "require": ["Window", "BroadcastHashJoin", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "dedup_chunk_exact": {
        # chunk explode + hash agg; the boilerplate marker is a broadcast
        # LEFT OUTER join against the repeated-chunk table (r9: the old
        # semi+base self-join dropped the NULL-source group — one grouped
        # pass with a dup marker now; surveyed executed plan shows
        # BroadcastHashJoin ... LeftOuter)
        "require": ["Generate", "LeftOuter", "partial"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "stream_session_windows": {
        "require": ["Window", "partial"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "events_histogram": {
        "require": ["partial"],
        "forbid": ["Join", "Window", "Exchange SinglePartition"],
    },
    "similarity_hamming_recall_audit": {
        # two WindowGroupLimit top-k plans joined at probes·k scale
        "require": ["WindowGroupLimit", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "embedding_int8_cosine_err": {
        # broadcast probe pair scan + probe-keyed exact-integer agg
        "require": ["Broadcast", "partial"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # ---- r6b batch: per-key entries for the formerly blanket-only keys,
    # written from surveyed executed plans at sf0.001 (the discipline: run
    # the query, read the plan, pin the designed shape). Four families:
    #
    # (1) Pure scan shape: whole-stage codegen over a pushdown scan, ZERO
    # exchanges and ZERO joins — the per-row map/HOF keys. Pinning
    # forbid=[Exchange, Join] is the real guard: a refactor that sneaks a
    # shuffle or join into a map-only key is a scale regression.
    **{
        k: {
            "require": ["*(", "PushedFilters: ["],
            "forbid": ["Exchange", "Join"],
        }
        for k in (
            "cond_expr",
            "explode_lateral",
            "filter_predicates",
            "string_distance",
            "scalar_array",
            "scalar_array_set",
            "scalar_datetime",
            "scalar_json",
            "scalar_map",
            "scalar_math",
            "text_fingerprint",
            "text_langid",
            "text_quality",
            "text_token_count",
            "embedding_normalize",
            "embedding_quantize_int8",
        )
    },
    # (1b) Scan shape whose output aliases contain the substring "join"
    # (concat_ws alias "joined", clean-text columns) — forbid the join NODE
    # names instead of the bare word
    **{
        k: {
            "require": ["*(", "PushedFilters: ["],
            "forbid": [
                "Exchange",
                "SortMergeJoin",
                "HashJoin",
                "NestedLoopJoin",
                "CartesianProduct",
            ],
        }
        for k in ("scalar_string", "text_scrub_blocklist")
    },
    # (1c) Scan shape behind fan_out: the ONE RoundRobin exchange is the
    # deliberate 1-file-scan parallelism normalizer (fixtures.fan_out) —
    # pin that no OTHER exchange (hash/range/single) and no join appears
    **{
        k: {
            "require": ["*(", "PushedFilters: ["],
            "forbid": [
                "Join",
                "Exchange hashpartitioning",
                "Exchange rangepartitioning",
                "Exchange SinglePartition",
            ],
        }
        for k in (
            "multimodal_audio_window",
            "multimodal_bytes_arrow",
            "multimodal_frame_sample",
            "multimodal_meta",
            "multimodal_resize",
        )
    },
    # (2) Cluster-index family: K-row centroid/summary frames attach via
    # broadcast (the 1/K-row BNLJ and SinglePartition reduction are the
    # sanctioned driver-scale attach pattern, VERDICT r5 anti-pattern
    # audit); the data-scale path must stay partial-agg + broadcast —
    # never a sort-merge join or a true cartesian over data-scale frames.
    **{
        k: {
            "require": ["Broadcast", "partial_"],
            "forbid": ["CartesianProduct", "SortMergeJoin"],
        }
        for k in (
            "bd_dunn",
            "bd_silhouette",
            "c_index",
            "cluster_label_contingency",
            "davies_bouldin",
            "inter_centroid_min",
            "intra_cluster_stats",
            "silhouette_exact",
            "wssse",
            "xie_beni",
        )
    },
    # (3) Agg-shaped: two-phase (map-side combined) hash aggregation, no
    # accidental single-partition reduction of data-scale frames.
    **{
        k: {
            "require": ["partial_", "Exchange hashpartitioning"],
            "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        }
        for k in (
            "agg_stats",
            "centroids_by_label",
            "text_tokens_stats",
            "multimodal_vector_stats",
        )
    },
    # (4) Individual shapes
    "events_outliers_mad": {
        # per-type MAD attach rides a broadcast, never SMJ
        "require": ["BroadcastHashJoin", "partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "events_path_trigrams": {
        # top-k via parallel per-partition heaps, never a global sort
        "require": ["TakeOrderedAndProject", "partial_"],
        "forbid": ["CartesianProduct", "Exchange rangepartitioning"],
    },
    "join_full_outer": {
        # full outer cannot broadcast — partitioned SMJ is the designed plan
        "require": ["SortMergeJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "null_semantics": {
        "require": ["Join", "partial_"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "set_ops": {
        # intersect/except plan as partitioned (semi/anti) equi joins
        "require": ["Exchange hashpartitioning"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "profile_orders": {
        # the 1-row corpus summary SinglePartition is the sanctioned tail
        "require": ["partial_"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "scalar_collation": {
        "require": ["partial_"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "curation_mixture_interleave": {
        # source-partitioned interleave windows stay parallel
        "require": ["Window"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "curation_sample_weighted": {
        "require": ["Window"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "multimodal_scene_cut": {
        # per-video lag windows partition by video id
        "require": ["Window", "partial_"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "dedup_embedding_cosine": {
        # the documented cap_quadratic-guarded exact yardstick: its BNLJ
        # cross join IS the point (gate tier only); no shuffle joins
        "require": ["*("],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "udf_scalar_cosine": {
        # Arrow-vectorized scalar UDF — never row-at-a-time Python
        "require": ["ArrowEvalPython"],
        "forbid": ["BatchEvalPython", "Exchange"],
    },
    "udf_grouped_agg_median": {
        # pandas grouped-agg shuffles by group key only (no partial_
        # marker: Spark 4.1 plans grouped-agg pandas without one)
        "require": ["Exchange hashpartitioning"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    # ---- r6b batch 2: the last surveyable blanket-only keys. Only the
    # five iterative MLlib sweeps (kmeans/bisecting/gmm/gap) keep the
    # blanket floor — their returned frames are K-row sweep summaries and
    # the iterative work happens inside MLlib jobs the result plan can't
    # witness.
    **{
        k: {
            "require": ["partial_", "Exchange hashpartitioning"],
            "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        }
        for k in (
            "agg_approx",
            "source_xml_roundtrip",
            "sql_session_vars",
            "sql_udf_inline",
            "stream_sliding_agg",
            "stream_tumbling_agg",
        )
    },
    "agg_quantiles_approx": {
        # percentile_approx partial-merges its sketch map-side
        # (ObjectHashAggregate is the sketch-agg node)
        "require": ["ObjectHashAggregate", "partial_"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "agg_hll_partitioned_merge": {
        # per-partition HLL sketches merge via ObjectHashAggregate; the
        # partition attach rides a broadcast
        "require": ["ObjectHashAggregate", "partial_", "Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "embedding_dim_covariance": {
        # r7 production path: mapInArrow integer Gram partials collect at
        # plan-construction time; the RETURNED plan is the D²/2-row local
        # pair relation + the finalize projection — no join, no exchange,
        # no data-scale operator of any kind (the corpus pass happened in
        # the partials job, one scan, zero shuffle). The old vec_id
        # self-join survives only as dim_covariance_selfjoin (test twin).
        "require": ["Scan ExistingRDD"],
        "forbid": [
            "Join",
            "Exchange",
            "CartesianProduct",
        ],
    },
    "embedding_pca_project": {
        # fitted components apply as literal expressions — pure scan shape
        "require": ["*("],
        "forbid": ["Exchange", "Join"],
    },
    "embedding_whiten": {
        # same literal-projection scan shape as pca_project (the fit's
        # Gram-partial pass happens at plan-construction time)
        "require": ["*("],
        "forbid": ["Exchange", "Join"],
    },
    "similarity_ivf_nprobe_curve": {
        # one inverted-list equi-join at max nprobe (probe side broadcast)
        # + WindowGroupLimit re-rank per grid point; the 4-row grid and
        # 1-row n_exact attaches are sanctioned tiny broadcasts (BNLJ) —
        # the corpus-scale index must never sort-merge
        "require": ["Window", "Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "similarity_pq_expand_curve": {
        # one ADC codes scan at max expand (broadcast distance tables),
        # exact sims once for the maximal candidate set, rank slices per
        # grid point — same tiny-broadcast posture as the nprobe curve
        "require": ["Window", "Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "source_python_datasource": {
        # custom Python DataSource scan (no parquet pushdown surface);
        # downstream agg stays two-phase
        "require": ["partial_"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "sql_interface": {
        "require": ["BroadcastHashJoin", "partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "stream_dedup": {
        # batch twin of the stream dedup: keyed window, stays partitioned
        "require": ["Window"],
        "forbid": ["CartesianProduct", "Exchange SinglePartition"],
    },
    "stream_join_clicks": {
        "require": ["*("],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "text_burstiness": {
        # two map-side-combined aggs + the sanctioned 1-row doc-count
        # attach (BNLJ over a broadcast single row)
        "require": ["partial_"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    "text_rake_keywords": {
        # every window/agg/join keys by doc_id (RAKE is per-doc); top-3
        # prunes inside the window (WindowGroupLimit), never a global sort
        "require": ["Window", "WindowGroupLimit", "partial_"],
        "forbid": [
            "CartesianProduct",
            "Exchange SinglePartition",
            "Exchange rangepartitioning",
        ],
    },
    "source_orc_roundtrip": {
        # the read-back predicate must reach the ORC reader (stripe-stat
        # pruning), and the agg stays two-phase
        "require": [
            "FileScan orc",
            "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,50000.0)]",
            "partial_",
        ],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "source_csv_roundtrip": {
        "require": ["FileScan csv", "partial_"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # ---- r7: the five iterative sweep keys (VERDICT r6 missing #4).
    # Their RETURNED frames are K-row driver-built summaries, so the audit
    # instead exercises the per-K INDEX JOB via SUBPLAN_PROBES below — one
    # representative fit + the cluster_stats pass that runs once per K inside
    # the sweep loop. Designed markers: the centroid attach rides a
    # broadcast (the sanctioned 1-row BNLJ pattern), the agg is two-phase;
    # the data side must never sort-merge or go quadratic.
    **{
        k: {
            "require": ["Broadcast", "partial_"],
            "forbid": ["CartesianProduct", "SortMergeJoin"],
        }
        for k in ("bisecting_sweep_small", "gmm_sweep_small")
    },
    # the k-means sweep keys audit the Lloyd loop's pass (functions/lloyd):
    # an Arrow pass over the points, then a two-phase (k, cl) aggregate
    **{
        k: {
            "require": ["MapInArrow", "partial_"],
            "forbid": ["CartesianProduct", "SortMergeJoin"],
        }
        for k in ("kmeans_sweep_small", "kmeans_sweep_best_k")
    },
    "gap_statistic": {
        # per-(K,b) reference generation: 1-row bounds broadcast onto the
        # vec_id scan (BNLJ over one row — the with_dist_array pattern);
        # the fits are the Lloyd loop's passes, audited above
        "require": ["Broadcast"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
}


def _sweep_index_probe(algo: str):
    """Build the per-K index job the sweep runs in its loop (one
    representative K=3 fit, maxIter=2 — topology, not quality) so the
    audit can see the subplan the returned K-row summary cannot witness."""

    def probe(spark: SparkSession, sf_dir: str):
        from pyspark.ml.feature import PCA  # noqa: PLC0415
        from pyspark.ml.functions import array_to_vector  # noqa: PLC0415

        from clusterindices_spark.operators.indices import (  # noqa: PLC0415
            labeled_points,
        )
        from clusterindices_spark.operators.sweep import (  # noqa: PLC0415
            index_pass,
            make_clusterer,
        )

        pts = labeled_points(spark, sf_dir).withColumn(
            "fv", array_to_vector("x")
        )
        if algo == "gmm":
            # mirror clusterer_sweep: GMM fits in an 8-dim PCA space
            pca = PCA(k=8, inputCol="fv", outputCol="pv").fit(pts)
            pts = pca.transform(pts).drop("fv").withColumnRenamed("pv", "fv")
        model = make_clusterer(algo, 3, seed=42, max_iter=2).fit(pts)
        return index_pass(spark, algo, model, pts)[1]

    return probe


def _lloyd_pass_probe(spark: SparkSession, sf_dir: str):
    """The k-means sweep's pass over the points (functions/lloyd), with one
    representative K=3 fit's centroids in its closure. At fixture scale the
    sweep keys run no such pass (every input within ``lloyd.SAMPLE_CAP`` is
    finished in the driver); the probe guards the plan of the sampled
    path, which runs it for inputs above the cap."""
    from clusterindices_spark.functions import lloyd  # noqa: PLC0415
    from clusterindices_spark.operators.indices import (  # noqa: PLC0415
        labeled_points,
    )

    pts = labeled_points(spark, sf_dir)
    (fit,) = lloyd.fit_sweep(pts, 3, 3, seed=42, max_iter=2)
    return lloyd.pass_frame(pts, {3: fit.centroids}, fit.centroids.shape[1])


def _index_suite_probe(spark: SparkSession, sf_dir: str):
    """index_suite returns a driver-finished 1-row frame; its one pass over
    the points is ``cluster_stats``."""
    from clusterindices_spark.operators.indices import (  # noqa: PLC0415
        centroids_of,
        cluster_stats,
        labeled_points,
    )

    pts = labeled_points(spark, sf_dir)
    return cluster_stats(pts, centroids_of(pts))


def _gap_ref_probe(spark: SparkSession, sf_dir: str):
    """The gap statistic's per-bootstrap reference-dataset generator (the
    only non-MLlib data-scale plan inside its loop)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from clusterindices_spark.operators.indices import (  # noqa: PLC0415
        labeled_points,
    )

    base = labeled_points(spark, sf_dir)
    ndim = len(base.select("x").first()["x"])
    bounds = base.select(
        F.array(*[F.min(F.get("x", d)) for d in range(ndim)]).alias("lo"),
        F.array(*[F.max(F.get("x", d)) for d in range(ndim)]).alias("hi"),
    )
    den = 1 << 20
    return base.select("vec_id").crossJoin(F.broadcast(bounds)).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(ndim - 1)),
            lambda d: F.get("lo", d)
            + (
                F.pmod(
                    F.xxhash64(F.col("vec_id"), d, F.lit(0)), F.lit(den)
                ).cast("double")
                / F.lit(float(den))
            )
            * (F.get("hi", d) - F.get("lo", d)),
        ).alias("ref_x"),
    )


# keys whose registry frame is a driver-built summary: audit the
# representative INTERNAL job instead (the plan users actually pay for)
SUBPLAN_PROBES = {
    "index_suite": _index_suite_probe,
    "kmeans_sweep_small": _lloyd_pass_probe,
    "kmeans_sweep_best_k": _lloyd_pass_probe,
    "bisecting_sweep_small": _sweep_index_probe("bisecting"),
    "gmm_sweep_small": _sweep_index_probe("gmm"),
    "gap_statistic": _gap_ref_probe,
}


def formatted_plan(df) -> str:
    """The EXPLAIN FORMATTED string for a DataFrame (pre-execution physical
    plan incl. optimizer-injected runtime-filter subqueries)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# Keys where a BroadcastNestedLoopJoin/cartesian-looking node is the
# INTENDED plan (guarded tiny-side yardsticks) — excluded from the blanket
# cartesian check; their per-key EXPECTATIONS entries stay authoritative.
_BLANKET_EXEMPT: set[str] = set()

# blanket default for keys without a per-key entry (VERDICT r4 item 5: the
# audit is the only automated guard against plan regressions — e.g. a
# future change reintroducing a BNLJ — so EVERY key gets at least the
# no-cartesian floor)
_DEFAULT_EXPECTATION = {"require": [], "forbid": ["CartesianProduct"]}


@contextmanager
def _checkpointed_frames():
    """The frames handed to ``DataFrame.localCheckpoint`` while open. A
    frame an operator checkpoints for its call is a ``Scan ExistingRDD``
    in the returned plan, so its own plan is audited from the recorded
    frame."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames, local_checkpoint = [], DataFrame.localCheckpoint

    def record(df, *args, **kwargs):
        frames.append(df)
        return local_checkpoint(df, *args, **kwargs)

    DataFrame.localCheckpoint = record
    try:
        yield frames
    finally:
        DataFrame.localCheckpoint = local_checkpoint


def audit_one(spark: SparkSession, name: str, sf_dir: str) -> list[str]:
    from clusterindices_spark.registry import all_queries

    probe = SUBPLAN_PROBES.get(name)
    with _checkpointed_frames() as checkpointed:
        df = probe(spark, sf_dir) if probe else all_queries()[name](spark, sf_dir)
        # executedPlan after AQE needs an action; use the initial physical
        # plan plus the final adaptive plan when available
        df.collect()
    returned = df._jdf.queryExecution().executedPlan().toString()
    plan = "\n".join(
        [returned]
        + [f._jdf.queryExecution().executedPlan().toString() for f in checkpointed]
    )
    problems = []
    exp = EXPECTATIONS.get(name, _DEFAULT_EXPECTATION)
    for frag in exp.get("require", []):
        if frag.lower() not in plan.lower():
            problems.append(f"missing {frag!r}")
    for frag in exp.get("forbid", []):
        if frag.lower() in plan.lower():
            problems.append(f"forbidden {frag!r} present")
    for frag in exp.get("forbid_returned", []):
        if frag.lower() in returned.lower():
            problems.append(f"forbidden {frag!r} present in the returned plan")
    return problems


def audit_all(
    spark: SparkSession, sf_dir: str, blanket: bool = False
) -> dict[str, list[str]]:
    """Audit every key with a per-key expectation; with ``blanket=True``
    ALSO run every remaining registry key against the no-cartesian floor
    (full-coverage mode — one extra collect per key)."""
    names = list(EXPECTATIONS)
    if blanket:
        from clusterindices_spark.registry import all_queries

        names += [
            k
            for k in all_queries()
            if k not in EXPECTATIONS and k not in _BLANKET_EXEMPT
        ]
    return {name: audit_one(spark, name, sf_dir) for name in names}


def main() -> int:
    from clusterindices_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for name, problems in audit_all(spark, sf_dir, blanket=True).items():
        if problems:
            failures += 1
            print(f"AUDIT FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"AUDIT OK   {name}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
