"""Benchmark runner (driver contract: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>}

Per-query time excludes SparkSession startup and includes full
materialization (count() for wide results, collect() for small ones —
BASELINE.md note). A warmup query primes the JVM/codegen caches first.

ROUND-CLOSE CHECKLIST (run before the end-of-round commit):
  1. python -m pytest tests/ -q                  # fast tier green
  1b. python -m pytest tests/ -m slow -q         # slow tier green (r14
      split: pytest.ini defaults to -m "not slow" so the driver's verify
      fits its budget; BOTH tiers must pass at round close)
  2. python tools/check_oracle.py                # full gate, sf0.01
  3. python tools/check_oracle.py --sf /root/testdata/sf0.1 \
       > reports/oracle_local_rN_sf01.txt        # 10x-SF sweep (VERDICT r8 #6)
  4. python tools/hostile_fixtures.py && python tools/hostile_gate.py
                                                 # adversarial differential gate
  4b. python tools/hostile_fixtures.py --scale   # >=1M-row hostile distribution
      python tools/hostile_gate.py --variants scale \
        --report reports/hostile_gate_scale.md   # shuffle-heavy family diff'd at scale
  4c. python tools/hostile_fixtures.py --scale10m
      python tools/hostile_gate.py --variants scale10m \
        --report reports/hostile_gate_scale10m.md  # >=10M events window/lag arm
  4d. python tools/fuzz_gate.py --trials 3 --base-seed <fresh>  # fuzz spot-check
  4e. python tools/stream_gate.py --seeds <fresh>,<fresh>       # stream≡batch
  4f. python tools/soak_gate.py                  # 2-pass session soak, bounded caches
  5. python tools/int64_audit.py                 # 0 HIGH unexplained, 0 unpinned LOW
  6. python tools/lint_refs.py                   # no dangling file references
  7. python bench.py                             # recall floors + JSON line
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _hist_medians(
    repo_dir: str, sf_val, last_n: int = 8
) -> dict[str, float]:
    """Per-key median over the last ``last_n`` bench_history entries at the
    same sf — the noise-robust reference for the auto-rerun trigger."""
    import statistics

    path = os.path.join(repo_dir, "reports", "bench_history.jsonl")
    per_key: dict[str, list[float]] = {}
    try:
        with open(path) as f:
            entries = [json.loads(line) for line in f if line.strip()]
    except (OSError, ValueError):
        return {}
    entries = [e for e in entries if e.get("sf") == sf_val]
    for e in entries[-last_n:] if last_n else entries:
        for k, v in (e.get("queries") or {}).items():
            if isinstance(v, (int, float)):
                per_key.setdefault(k, []).append(float(v))
    return {k: round(statistics.median(v), 3) for k, v in per_key.items()}


def _git_sha(repo_dir: str) -> str | None:
    import subprocess

    try:
        return (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=repo_dir,
                capture_output=True,
                text=True,
                timeout=10,
                check=True,
            ).stdout.strip()
            or None
        )
    except Exception:
        return None


def _current_round(repo_dir: str) -> int | None:
    """The round being BUILT = 1 + the highest driver-recorded BENCH_r{N}
    (the driver writes BENCH_r{N}.json when round N closes)."""
    import re

    rounds = [
        int(m.group(1))
        for f in os.listdir(repo_dir)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    return max(rounds) + 1 if rounds else None

# headline set: reference index suite + sweep-shaped work + one per operator
# family (BASELINE.md rows 4-9)
HEADLINE = [
    "index_suite",
    "assign_nearest_centroid",
    "agg_basic",
    "join_broadcast",
    "join_sortmerge",
    "join_asof",
    "window_rank",
    "stream_session_windows",
    "dedup_exact",
    "dedup_near_minhash",
    "similarity_topk_exact",
    "similarity_ann_ivf",
    "text_tfidf_topterms",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
    "agg_grouping_sets",
    "window_distribution",
    "dedup_components",
    "text_token_count",
    # round-2 additions (BASELINE.md "Measured r2" rows)
    "silhouette_sqeuclid",
    "curation_pack_greedy",
    "curation_pipeline",
    "tpch_q8",
    # round-2b additions: the heaviest of the TPC-H completion (q9 joins the
    # derived partsupp at fact scale; q21 is the double-semi/anti shape) and
    # the new curation/text surface
    "tpch_q9",
    "tpch_q21",
    "text_unigram_logprob",
    "curation_sample_topk",
    # late-r2: triangle census rides the persisted candidate pipeline
    "dedup_graph_triangles",
    # round-2c additions: decontamination is the new heavy (shingle explode
    # + broadcast probe), the other two are scan-side/K-scale and should
    # stay sub-second
    "curation_decontaminate",
    "text_repetition_stats",
    "ratkowsky_lance",
    # round-3 additions (BASELINE.md "Measured r3" rows): four scan-side/
    # one-shuffle scalar keys, the real media-decode tier, and the two
    # heavy ANN additions (corpus-probe knn graph; PQ train+encode+ADC+
    # re-rank end to end)
    "text_pii_scrub",
    "agg_quantiles",
    "analytics_rfm",
    "events_markov_transition",
    "multimodal_decode_real",
    "similarity_knn_graph",
    "similarity_ann_pq",
    # round-3b additions: the widened validity/agreement surface (all
    # K-scale tails over one scan), span-dedup inverted index, and the
    # Spark-4 SQL feature keys (recursive ladder, VARIANT roundtrip)
    "wemmert_gancarski",
    "sd_index",
    "s_dbw",
    "cluster_agreement_ext",
    "dedup_span_coverage",
    "sql_recursive_months",
    "scalar_variant",
    # round-3c additions: bigram LM scoring (the heaviest text key after
    # tfidf), the guarded pair-statistic pass, the seasonal anomaly
    # baseline, the end-to-end versioned COW merge, and the custom
    # Python-DataSource aggregate
    "text_bigram_logprob",
    "pair_validity",
    "events_outliers_seasonal",
    "versioned_merge_snapshot",
    "source_python_datasource",
    # round-3d additions: containment rides the shared shingle pins, the
    # two perceptual signatures ride the multimodal tiers, LTV is
    # window-scale. (dedup_graph_hops stays out like components_star —
    # a second full propagation loop would double-count the family.)
    "dedup_ngram_containment",
    "multimodal_dhash",
    "multimodal_audio_fingerprint",
    "events_cohort_ltv",
    # round-4 additions: funnel transition-latency percentiles (VERDICT r3
    # item 6 — the newest sessions key joins the headline set)
    "events_funnel_latency",
    # round-4 widening: one representative per new family — char entropy
    # (explode-heavy text), canonical-hash dedup tier, audience overlap,
    # interval union, hierarchical rollup, the MOR ACID path end-to-end,
    # Bloom semi-join reduction (incl. distributed bitmap build), video
    # scene cuts, threshold retrieval
    "text_entropy",
    "dedup_normalized_exact",
    "events_user_overlap",
    "window_interval_merge",
    "events_rollup_hierarchy",
    "versioned_mor_snapshot",
    "join_bloom_prefilter",
    "multimodal_scene_cut",
    "similarity_range_search",
    # round-5 additions: the estimator rides the shared shingle pins after
    # jaccard; chunk dedup is a second explode-heavy text key; hamming/MMR
    # are the new deterministic retrieval tiers; the rest are scan/window
    # scale and should stay sub-second
    "dedup_minhash_est",
    "dedup_chunk_exact",
    "text_readability",
    "similarity_hamming_topk",
    "similarity_mmr_rerank",
    "multimodal_audio_silence",
    "events_user_lifecycle",
    "join_asof_nearest",
    # round-5d: held-out LM scoring is the heaviest new text key (two
    # explodes + broadcast vocab); the histogram rides the probe-broadcast
    # scan shape
    "text_lm_heldout_score",
    "embedding_pair_distance_hist",
    # round-5e/f: semantic clusters ride the star engine over cosine
    # edges; the rest are hourly-agg / S-scale
    "dedup_semantic_clusters",
    "events_error_rate",
    "events_autocorr",
    "events_forecast_baseline",
    "curation_domain_caps",
    "curation_source_lang_mix",
    # round-6: the 100 TB semantic-dedup tier (LSH candidate edges, same
    # star engine — the A/B against the exact tier above is the point)
    "dedup_semantic_clusters_ann",
    # round-6b: CUSUM drift chart, incremental bigram novelty, DSIR
    # weights, cross-dim covariance audit
    "events_cusum",
    "text_ngram_novelty",
    "curation_dsir_weights",
    "embedding_dim_covariance",
    # round-6c: RAKE keywords, Welch t-test, Poisson-bootstrap CI, k-core
    "text_rake_keywords",
    "events_ab_ttest",
    "events_bootstrap_ci",
    "dedup_graph_kcore",
    "events_survival_km",
    "scd2_status_intervals",
    "agg_weighted_median",
    "agg_quantiles_bucketed",
    "dedup_minhash_pr_curve",
    "multimodal_near_dup_report",
    "events_markov_entropy",
    "text_burstiness",
    "curation_waterfill_budget",
    "join_salted_skew",
    "dedup_simhash_est",
    # round-7: near-dup survivor selection (components + keep-best),
    # PCA-whitening (Gram-partial fit + literal-projection scan), and the
    # IVF nprobe tuning curve (one-scan recall grid)
    "dedup_cluster_keep_best",
    "embedding_whiten",
    "similarity_ivf_nprobe_curve",
    "similarity_pq_expand_curve",
    # round-7 continuation: streaks/changepoint/interarrival/attribution
    # over events, incremental MV refresh, URL + code routing tiers, the
    # JL random projection (MapInArrow, zero-shuffle), the grid-cell
    # spatial radius join, JSONL roundtrip, and PMI collocations
    "events_streak_lengths",
    "events_changepoint_loc",
    "events_interarrival_fit",
    "events_attribution_linear",
    "agg_incremental_mv",
    "dedup_url_canonical",
    "text_code_detect",
    "embedding_random_projection",
    "join_spatial_radius",
    "source_jsonl_roundtrip",
    "text_pmi_bigrams",
    "events_pattern_match",
    "events_gini_activity",
    "versioned_snapshot_diff",
    "text_bpe_train_merges",
    "agg_equidepth_histogram",
    "events_diff_in_diff",
    "events_power_mde",
    "events_cuped",
    "curation_anneal_mixture",
    "scalar_ipv4_cidr",
    "agg_bitmap_distinct",
]

# Per-key recall floors (VERDICT r5 item 3): the bench FAILS — explicit
# recall_fail list in the final line + exit code 1 — when any ANN key's
# measured recall drops below its floor, so a round can't trade recall for
# speed invisibly. Measured sf0.1 recalls after the r6 over-retrieve fix
# (PQ_EXPAND 8→64; BASELINE.md "PQ over-retrieve A/B"): LSH 0.94, IVF 0.90,
# knn 0.96, PQ 0.90, IVFPQ 0.90, semantic-pairs 1.0. The FLOORS below sit
# at 0.85 (0.9 semantic) — deliberately under the measured values, not
# "just under": bench SF is env-overridable and per-SF recall shifts a few
# points, so the floors catch structural regressions (the r5 PQ 0.58 class)
# without tripping on scale-factor variation.
RECALL_FLOORS = {
    "similarity_ann_lsh": 0.85,
    "similarity_ann_ivf": 0.85,
    "similarity_knn_graph": 0.85,
    "similarity_ann_pq": 0.85,
    "similarity_ann_ivfpq": 0.85,
    "semantic_pairs_ann": 0.9,
}

# Measured and reported, but EXCLUDED from the headline total: these keys
# deliberately demonstrate the Python-boundary tax next to their native
# DataFrame twin (udf_cogrouped_asof runs ~1.5-2k per-user pandas calls;
# join_asof — in HEADLINE above — is the same semantics via max_by at ~0.5s).
# Totaling them would make the engine read ~8s slower than it is
# (VERDICT r2 "What's wrong" #3); keeping them measured preserves the A/B.
SIDEBAR = [
    "udf_cogrouped_asof",
]


def _isolated_child(key: str, samples: int, sf_dir: str, cpus: str) -> None:
    """One key in THIS fresh interpreter/JVM: warm once at the smallest SF
    (codegen priming, the headline-warmup precedent), then ``samples``
    fully-cold runs (all pins cleared before each). Prints one JSON
    line; min is the steal-robust estimator."""
    import statistics

    from clusterindices_spark.functions.pins import clear_pins
    from clusterindices_spark.registry import all_queries
    from clusterindices_spark.session import get_spark

    spark = get_spark("clusterindices-bench-isolated", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    fn = all_queries()[key]
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    try:
        fn(spark, warm_dir).count()
    except Exception as ex:
        print(f"# isolated warmup {key} failed: {ex}", file=sys.stderr)
    walls = []
    for _ in range(samples):
        clear_pins()
        t0 = time.monotonic()
        fn(spark, sf_dir).count()
        walls.append(round(time.monotonic() - t0, 3))
    print(
        json.dumps(
            {
                "key": key,
                "samples": walls,
                "min": min(walls),
                "median": round(statistics.median(walls), 3),
            }
        )
    )


def _isolated_main(keys: list[str], sf_dir: str, cpus: str) -> None:
    """VERDICT r13 item 8 — adjudication mode (SPARK_GRAFT_ISOLATE=k1,k2):
    each key runs in its own fresh interpreter+JVM with all pins/memos
    cleared before every sample, so per-key claims are reproducible without
    the suite-position confound. Never active in the driver's runs (the
    driver does not set the env var); the default bench path is unchanged."""
    import subprocess

    samples = int(os.environ.get("SPARK_GRAFT_ISOLATE_SAMPLES", "3"))
    out: dict[str, dict] = {}
    for key in keys:
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_ISOLATE", None)
        env["SPARK_GRAFT_ISOLATE_CHILD"] = f"{key}:{samples}"
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        sys.stderr.write(r.stderr)
        try:
            out[key] = json.loads(r.stdout.strip().splitlines()[-1])
        except (ValueError, IndexError):
            out[key] = {"error": f"rc={r.returncode}"}
        print(f"# isolated {key}: {out[key]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "isolated_keys",
                "unit": "sec",
                "samples_per_key": samples,
                "keys": out,
                "sf_dir": sf_dir,
            }
        )
    )


# (key, table, rows): compute-parallel heavy families for the scale arm —
# one per driving table/shape, sized so each lands roughly 4-15 s at
# local[32] (calibrated r14; see OPTIMIZATION_r14.md)
SCALE_ARM_KEYS = [
    ("dedup_near_minhash", "documents", 600_000),
    ("text_tfidf_topterms", "documents", 1_000_000),
    ("similarity_ann_pq", "embeddings", 100_000),
    ("embedding_whiten", "embeddings", 2_000_000),
    ("similarity_knn_graph_auto", "embeddings", 30_000),
]


def _run_scale_arm(spark, queries, repo_dir: str, mult: float) -> dict[str, float]:
    import shutil
    import tempfile

    from clusterindices_spark.functions.pins import clear_pins

    sys.path.insert(0, os.path.join(repo_dir, "tools"))
    import scaling_curves as sc

    root = tempfile.mkdtemp(prefix="bench_scale_")
    walls: dict[str, float] = {}
    try:
        needed = {
            (table, max(int(rows * mult), 1000))
            for _, table, rows in SCALE_ARM_KEYS
        } | {(table, sc.WARM_N) for _, table, _ in SCALE_ARM_KEYS}
        fix = {}
        for table, size in sorted(needed):
            d = os.path.join(root, f"{table}_{size}")
            os.makedirs(d, exist_ok=True)
            t0 = time.monotonic()
            sc._GEN[table](spark, size, d)
            fix[(table, size)] = d
            print(
                f"# scale-arm fixture {table}@{size:,}:"
                f" {time.monotonic() - t0:.1f}s",
                file=sys.stderr,
            )
        for key, table, rows in SCALE_ARM_KEYS:
            size = max(int(rows * mult), 1000)
            fn = queries[key]
            # untimed warm pass on the dedicated tiny fixture (codegen
            # priming; separate dir so pins cannot serve the timed run)
            try:
                fn(spark, fix[(table, sc.WARM_N)]).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as ex:
                print(f"# scale-arm warm {key} failed: {ex}", file=sys.stderr)
            clear_pins()
            spark.sparkContext.setJobDescription(f"scale_arm:{key}@{size}")
            t0 = time.monotonic()
            df = fn(spark, fix[(table, size)])
            df.write.format("noop").mode("overwrite").save()
            walls[f"scale_{key}"] = round(time.monotonic() - t0, 3)
            spark.sparkContext.setJobDescription(None)
            print(
                f"# scale_{key} @{size:,}: {walls[f'scale_{key}']}s",
                file=sys.stderr,
            )
        clear_pins()  # scale-arm pins must not leak onward
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return walls


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)

    child = os.environ.get("SPARK_GRAFT_ISOLATE_CHILD")
    if child:
        key, _, n = child.partition(":")
        _isolated_child(key, int(n or "3"), sf_dir, cpus)
        return
    isolate = os.environ.get("SPARK_GRAFT_ISOLATE")
    if isolate:
        _isolated_main(
            [k.strip() for k in isolate.split(",") if k.strip()], sf_dir, cpus
        )
        return

    from clusterindices_spark.functions.pins import clear_pins
    from clusterindices_spark.registry import all_queries
    from clusterindices_spark.session import get_spark

    spark = get_spark("clusterindices-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # warmup: prime codegen/JIT per query at the smallest scale factor (not
    # timed). A single generic warmup query leaves each headline query paying
    # its own first-execution whole-stage-codegen compile on the timed run —
    # measured 2.4× inflation on similarity_topk_exact's 64-dim cosine HOF
    # chain (isolated A/B: first run 3.0s, steady-state 0.87s; BASELINE.md).
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE + SIDEBAR:
        try:
            queries[name](spark, warm_dir).count()
        except Exception as ex:  # never let warmup sink the bench
            print(f"# warmup {name} failed: {ex}", file=sys.stderr)

    timings: dict[str, float] = {}
    sidebar: dict[str, float] = {}
    for name in HEADLINE + SIDEBAR:
        fn = queries[name]
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        n = df.count()
        out = sidebar if name in SIDEBAR else timings
        out[name] = round(time.monotonic() - t0, 3)
        print(f"# {name}: {out[name]}s ({n} rows)", file=sys.stderr)

    # Noise-robust regression detection (VERDICT r10 item 2): single-shot
    # totals on this box swing ±30%+ from hypervisor CPU steal (r7 logged
    # 72–193 s for the same suite; r9's wemmert ×3.7 was a pure noise
    # artifact adjudicated with three isolated sessions — BASELINE.md
    # "Measured r10"). Any key whose single shot reads >1.5× its
    # bench_history median (same sf) AND >0.3 s over it is re-run twice
    # more in-session; the recorded time becomes the median-of-3 and the
    # raw samples are kept in a `reruns` block, so a steal spike costs two
    # extra executions instead of a round of false archaeology. Keys
    # without history (new keys) establish their baseline untouched. The
    # rerun budget is capped: a session where MANY keys trigger is
    # session-level steal, and the worst offenders carry the signal.
    hist = _hist_medians(repo_dir, sf_val)
    # r14 (VERDICT r13 item 5): the top-10 keys CARRY the round-over-round
    # headline comparison, yet r13's dedup_semantic_clusters_ann spike
    # (1.44x) sat just under the 1.5x trigger and went unadjudicated while
    # noise keys got 8 reruns. The top-10 slowest keys of THIS run rerun at
    # 1.25x; everything else keeps the 1.5x trigger. Additions-only: no
    # existing rerun becomes less likely.
    top10_now = {
        k
        for k, _ in sorted(
            timings.items(), key=lambda kv: kv[1], reverse=True
        )[:10]
    }
    triggered = [
        name
        for name, t in timings.items()
        if name in hist
        and t > (1.25 if name in top10_now else 1.5) * hist[name]
        and t - hist[name] > 0.3
    ]
    triggered.sort(key=lambda k: timings[k] - hist[k], reverse=True)
    RERUN_CAP = 12
    reruns: dict[str, dict] = {}
    for name in triggered[:RERUN_CAP]:
        samples = [timings[name]]
        for _ in range(2):
            t0 = time.monotonic()
            queries[name](spark, sf_dir).count()
            samples.append(round(time.monotonic() - t0, 3))
        med = round(sorted(samples)[1], 3)
        reruns[name] = {
            "samples": samples,
            "hist_median": hist[name],
            "recorded": med,
        }
        timings[name] = med
        print(
            f"# rerun {name}: samples={samples} hist={hist[name]} -> {med}",
            file=sys.stderr,
        )
    reruns_skipped = triggered[RERUN_CAP:]
    if reruns_skipped:
        print(
            f"# rerun budget hit ({RERUN_CAP}); session-level steal likely; "
            f"not rerun: {reruns_skipped}",
            file=sys.stderr,
        )

    # ANN build/query split (VERDICT r3 item 4): index BUILD (Lloyd training
    # + encode) is an offline job at scale, but the registry keys charge it
    # to query time. Each key is timed from cold cache pins, then repeated:
    # the repeat rides the rebuilt pins, so repeat ≈ query-side cost plus
    # the retrain and (cold − repeat) ≈ the work the pins save.
    ann_split: dict[str, dict[str, float]] = {}
    for name in ("similarity_ann_ivf", "similarity_ann_pq", "similarity_ann_ivfpq"):
        fn = queries[name]
        clear_pins()
        t0 = time.monotonic()
        fn(spark, sf_dir).count()
        cold = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        fn(spark, sf_dir).count()
        warm = round(time.monotonic() - t0, 3)
        ann_split[name] = {
            "build_plus_query_cold": cold,
            "query_warm_index": warm,
            "build_est": round(max(cold - warm, 0.0), 3),
        }
        print(f"# ann_split {name}: cold={cold}s query={warm}s", file=sys.stderr)

    # ANN recall vs the exact top-k yardstick at this sf (VERDICT r4 item 6):
    # carried in the bench record so a round can't trade recall for speed
    # invisibly. Pairs are (probe_id, neighbor_id); knn_graph probes the
    # whole corpus, so its result is filtered Spark-side to the shared
    # N_PROBES probe set before the driver-scale collect (≤ k rows/probe).
    ann_recall: dict[str, float] = {}
    try:
        from pyspark.sql import functions as F

        exact_pairs = {
            (r["probe_id"], r["neighbor_id"])
            for r in queries["similarity_topk_exact"](spark, sf_dir).collect()
        }
        probe_ids = sorted({p for p, _ in exact_pairs})
        for name in (
            "similarity_ann_lsh",
            "similarity_ann_ivf",
            "similarity_ann_pq",
            "similarity_ann_ivfpq",
            "similarity_knn_graph",
        ):
            approx = {
                (r["probe_id"], r["neighbor_id"])
                for r in queries[name](spark, sf_dir)
                .where(F.col("probe_id").isin(probe_ids))
                .select("probe_id", "neighbor_id")
                .collect()
            }
            ann_recall[name] = round(len(exact_pairs & approx) / len(exact_pairs), 3)
            print(f"# recall {name}: {ann_recall[name]}", file=sys.stderr)
        # semantic-dedup candidate tier: PAIR recall vs the exact cosine
        # edge source (different contract from probe top-k — edges are the
        # product here; a missed edge can split a component)
        from clusterindices_spark.operators.similarity import (
            _emb,
            dedup_embedding_cosine,
            semantic_pairs_ann,
        )

        emb = _emb(spark, sf_dir)
        sem_exact = {
            (r["vec_a"], r["vec_b"])
            for r in dedup_embedding_cosine(emb).collect()
        }
        sem_ann = {
            (r["vec_a"], r["vec_b"]) for r in semantic_pairs_ann(emb).collect()
        }
        if sem_exact:
            ann_recall["semantic_pairs_ann"] = round(
                len(sem_exact & sem_ann) / len(sem_exact), 3
            )
            print(
                f"# recall semantic_pairs_ann: {ann_recall['semantic_pairs_ann']}",
                file=sys.stderr,
            )
    except Exception as ex:
        print(f"# ann_recall failed: {ex}", file=sys.stderr)

    recall_fail = sorted(
        k
        for k, floor in RECALL_FLOORS.items()
        if k in ann_recall and ann_recall[k] < floor
    )

    # the persisted-index operating mode (build once, search many): IVF
    # index written as a cell-bucketed table, then searched with bucket
    # pruning — the clean build/query boundary (no memo accounting).
    try:
        from pyspark.sql import functions as F

        from clusterindices_spark.operators.similarity import (
            N_PROBES,
            ivf_search_bucketed,
            ivf_write_bucketed,
        )
        from clusterindices_spark.sources.bucketing import drop_table
        from clusterindices_spark.sources.fixtures import load_table

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("x")
        )
        table = "bench_ivf_idx"
        t0 = time.monotonic()
        ivf_write_bucketed(emb, table)
        build_s = round(time.monotonic() - t0, 3)
        probes = emb.where(F.col("vec_id") < N_PROBES)
        t0 = time.monotonic()
        ivf_search_bucketed(spark, table, probes).count()
        search_s = round(time.monotonic() - t0, 3)
        ann_split["ivf_bucketed_persisted"] = {
            "index_build_write": build_s,
            "search_only": search_s,
        }
        print(
            f"# ann_split ivf_bucketed: build={build_s}s search={search_s}s",
            file=sys.stderr,
        )
        drop_table(spark, table)
        drop_table(spark, f"{table}_cents")
    except Exception as ex:
        print(f"# ann_split ivf_bucketed failed: {ex}", file=sys.stderr)

    # r14 scale arm (VERDICT r13 item 3): at bench SF every key is
    # stage-scheduling-bound (2k embeddings / 5k documents), so the
    # driver's 8-vs-32-core scaling ratios sit at ~1 and cannot separate a
    # serial regression from fixed overhead. This arm times the heaviest
    # compute-parallel families on Spark-GENERATED deterministic fixtures
    # (the scaling_curves generators — id-derived, no rand(), built fresh
    # into a tmpdir each run: nothing persists across runs) at ~60-1500x
    # the bench rows, where parallelism is visible. The keys are ADDED to
    # the printed `queries` dict under a `scale_` prefix so the driver's
    # scaling block sees them; they are EXCLUDED from the headline total
    # (the SIDEBAR precedent) so round-over-round totals stay like-for-like.
    # SPARK_GRAFT_BENCH_MULT scales the row counts; 0 disables the arm.
    scale_arm: dict[str, float] = {}
    mult = float(os.environ.get("SPARK_GRAFT_BENCH_MULT", "1"))
    if mult > 0:
        try:
            scale_arm = _run_scale_arm(spark, queries, repo_dir, mult)
        except Exception as ex:
            print(f"# scale arm failed: {ex}", file=sys.stderr)

    # Driver contract (VERDICT r4 item 3): the driver records only the LAST
    # 2000 chars of output — r4's single JSON line outgrew that as the
    # headline set hit 69 keys, leaving the round with "parsed": null. The
    # full per-key record goes to a file; the FINAL stdout line is a short
    # summary guaranteed to fit the tail capture (total, key count, the
    # top-10 slowest keys, ANN recall).
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sidebar_python_tax_demo": sidebar,
        "ann_build_query_split": ann_split,
        "ann_recall": ann_recall,
        "recall_floors": RECALL_FLOORS,
        "recall_fail": recall_fail,
        "reruns": reruns,
        "reruns_skipped": reruns_skipped,
        "scale_arm": scale_arm,
        "scale_arm_mult": mult,
        "sf": sf_val,
    }
    full_path = os.path.join(repo_dir, "reports", "bench_full.json")
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1)
        print(f"# full per-key record: {full_path}", file=sys.stderr)
    except OSError as ex:
        print(f"# could not write {full_path}: {ex}", file=sys.stderr)
    # trend file (VERDICT r5 item 8): one APPENDED line per bench run with
    # the full per-key map, so cross-round steal-noise adjudication reads a
    # history instead of excavating truncated driver tails. Each entry is
    # self-describing (VERDICT r6 wrong #4): build round (max recorded
    # BENCH_r{N} + 1, i.e. the round currently being built) + git sha, so
    # per-key r(N)→r(N+1) diffs are one jq call, no archaeology.
    hist_path = os.path.join(repo_dir, "reports", "bench_history.jsonl")
    try:
        with open(hist_path, "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
                        "round": _current_round(repo_dir),
                        "sha": _git_sha(repo_dir),
                        "sf": sf_val,
                        "total_sec": full["value"],
                        "n_queries": len(timings),
                        "queries": timings,
                        "ann_recall": ann_recall,
                        "recall_fail": recall_fail,
                        "reruns": reruns,
                        "reruns_skipped": reruns_skipped,
                        "scale_arm": scale_arm,
                    }
                )
                + "\n"
            )
    except OSError as ex:
        print(f"# could not append {hist_path}: {ex}", file=sys.stderr)
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    # scale-arm keys are ADDED to the printed queries dict (allowed by the
    # driver contract; existing keys never removed/renamed) so the driver's
    # 8-vs-32-core scaling block can read real parallelism; they stay OUT
    # of `value` so the headline total remains like-for-like with r13.
    top10.update(scale_arm)
    # self-describing recall block (VERDICT r7 item 5): measured value,
    # floor, and pass/fail per tier IN the parsed line — a recall
    # regression shows in the BENCH_r{N}.json diff without reading bench.py
    recall_block = {
        k: {
            "recall": ann_recall[k],
            "floor": RECALL_FLOORS.get(k),
            "ok": k not in recall_fail,
        }
        for k in sorted(ann_recall)
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": full["value"],
                "unit": "sec",
                "queries": top10,
                "n_queries": len(timings),
                "recall": recall_block,
                "recall_fail": recall_fail,
                # cap the stdout rerun block: the driver tail-captures
                # 2000 chars; the full per-key samples live in the record
                "n_reruns": len(reruns),
                "reruns": {
                    k: v["samples"] for k, v in list(reruns.items())[:6]
                },
                "full_record": "reports/bench_full.json",
                "sf": sf_val,
            }
        )
    )
    if recall_fail:
        print(
            f"# RECALL FLOOR VIOLATION: {recall_fail}", file=sys.stderr
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
