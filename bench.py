"""Headline benchmark: runs representative queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The set covers every operator family: scan/agg (q01, q06), joins
(q03, q04, q05), windows (q09, q10), array agg (q25), events
(e01, e03, e09), dedup (d01, d02, d03, d05, d10, d13), text (t02, t05,
t06, t09, t11), similarity (s01, s02, s05, s09, s10) and the pair
joins (s03 exact vs s06 banded), plus the curation/mixing surface
(x05, x07, x10) — the scale-sensitive operators are deliberately in
the timed set so a regression to all-pairs shapes shows up here.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q03_topk_revenue",
    "q04_revenue_by_nation",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q09_topk_per_group",
    "q10_monthly_lag",
    "e01_tumbling_hourly",
    "e03_sessionize",
    "d01_exact_dedup",
    "d02_ngram_jaccard",
    "d03_minhash_lsh",
    "d05_simhash_pairs",
    "e09_asof_join",
    "q25_collect_set",
    "t02_quality_score",
    "t05_top_terms",
    "t06_tfidf_top_terms",
    "s01_knn_bruteforce",
    "s02_ann_lsh",
    "s05_ann_ivf",
    "s06_near_dup_pairs_banded",
    "x05_corpus_curation",
    "q34_histogram",
    "s09_vector_stats",
    "t09_bpe_token_count",
    "x07_upsert_merge",
    "d10_fuzzy_pairs",
    "s10_semantic_dedup",
    "x10_domain_mixture",
    "t11_unigram_surprisal",
    "d13_duplicate_spans",
    "t12_zipf_slope",
    "x11_curriculum_buckets",
    "s11_batch_knn",
    "e16_stream_replay",
    "d15_cc_star",
    "t15_quality_classifier",
    "t16_html_extract",
    "s13_pq_ann",
    "x14_epoch_plan",
    "t17_url_filter",
    "x15_split_drift",
    "s15_ivf_pq_ann",
    "x16_quality_mixture",
    "e17_multistep_funnel",
    "d16_incremental_minhash",
    "m06_subtitle_parse",
    "m07_id3_tag_parse",
    "m08_wav_header_parse",
    # r07: the hash-checkable codec tier + the integrity suite rows +
    # the blocked exact all-pairs tier
    "m01_image_metadata",
    "m04_audio_frames",
    "v01_integrity_report",
    "v02_duplicate_keys_report",
    "s03_near_dup_pairs",
    "e18_drift_replay",
    "e19_quality_replay",
    "x17_cluster_curation",
    "d17_span_dedup_action",
    "d18_cleaned_corpus",
    "d19_decontaminate_action",
    "d20_incremental_span_dedup",
    "g01_item_pagerank",
    "g02_item_triangles",
    "g03_bfs_hops",
    "e20_ewma_baseline",
    "t18_posting_lists",
    "e21_transition_matrix",
    "g04_item_similarity",
    "g05_graph_summary",
    "g06_lpa_communities",
    "g07_edge_stream_replay",
    "e22_any_click_funnel",
    "t19_bm25_search",
    "e23_cusum_changepoint",
    "q36_snapshot_diff",
]
# d14 is untimed: it re-times d13's span table with a different final
# aggregate — no new scale-sensitive shape.
# s03 (exact all-pairs) is deliberately NOT timed: it is the
# correctness oracle for s06, quadratic by definition; the production
# pair operator in the timed set is s06.


def base_builders(spark, sf_dir: str) -> dict:
    """name -> thunk for every session-memoized shared base, in build
    order. One list, shared with tools/qbench.py, so per-query numbers
    measure steady-state plans on every harness (VERDICT r10 item 3).
    r13 adds the bases introduced by the optimization round: the
    capped-shingle table (d02/d09), the banded MinHash buckets
    (d03/d15/d16), and the narrow span-hash table (d17/d18/d19/d20);
    engagement_graph now materializes the full g-family frame set
    (nodes/deg/oriented arcs/strength-annotated arcs)."""
    from rfb_data_pipeline_spark.operators.dedup import (
        _capped_shingles_cached,
        _doc_shingles_cached,
        _doc_spans_cached,
        _minhash_buckets_cached,
        _simhash_df,
        _span_table_cached,
        cc_labels_cached,
    )
    from rfb_data_pipeline_spark.operators.graph import _graph_shared
    from rfb_data_pipeline_spark.operators.media import _N_MEDIA, _media_cached
    from rfb_data_pipeline_spark.operators.similarity import (
        K_PQ,
        PQ_M,
        _pq_model_cached,
    )
    from rfb_data_pipeline_spark.operators.text import (
        _toks_cached,
        t15_scores_cached,
    )

    return {
        "doc_shingles": lambda: _doc_shingles_cached(spark, sf_dir),
        "capped_shingles": lambda: _capped_shingles_cached(spark, sf_dir),
        "minhash_buckets": lambda: _minhash_buckets_cached(spark, sf_dir),
        # r13 session 2: pre-existing memo that was NOT in this list —
        # whichever query first forced it (x17 in registry order) paid
        # its ~27-job LSH-pairs + star-CC build inside a timed rep
        # (min-of-N hid it; medians and --full run order did not).
        "cc_labels": lambda: cc_labels_cached(spark, sf_dir),
        "doc_spans": lambda: _doc_spans_cached(spark, sf_dir),
        "span_table": lambda: _span_table_cached(spark, sf_dir),
        "simhash_fingerprints": lambda: _simhash_df(spark, sf_dir),
        "engagement_graph": lambda: _graph_shared(spark, sf_dir),
        "token_stream": lambda: _toks_cached(spark, sf_dir),
        "t15_scores": lambda: t15_scores_cached(spark, sf_dir),
        "pq_model": lambda: _pq_model_cached(spark, sf_dir, PQ_M, K_PQ),
        "media_frame": lambda: _media_cached(spark, _N_MEDIA),
    }


def main() -> None:
    # --full: time EVERY registered query (not just the headline set)
    # and fold the extra medians into BENCH_local.json, so each round
    # has a per-query timing record for the whole registry (VERDICT
    # r05 item 6). The driver's default invocation and its compact
    # stdout line are unchanged.
    full = "--full" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from rfb_data_pipeline_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("rfb-bench")
    qs = entry_mod.queries()

    # Warm the JVM/IO path once so per-query times measure the engine,
    # not session startup or first-touch page-cache misses (measured:
    # a cold orders.parquet costs q25 5.2 s vs 0.4 s steady-state).
    import glob as _glob

    # recursive ** also matches zero directories, so one glob covers
    # both flat files and directory-style parquet tables
    for p in sorted(
        _glob.glob(os.path.join(sf_dir, "**", "*.parquet"), recursive=True)
    ):
        if os.path.isfile(p):
            with open(p, "rb") as fh:  # page-cache warm, no Spark job
                while fh.read(1 << 22):
                    pass
    qs["q01_pricing_summary"](spark, sf_dir).collect()

    # Pin shared-base cost attribution (VERDICT r10 item 3): the
    # session-memoized bases are built ONCE per session, so whichever
    # query first forces a memo used to pay its materialization — and
    # run order differs between the driver's harness and --full runs,
    # which made d03 swing 0.8↔2.0 s on byte-identical code (the r10
    # adjudication). Build every base HERE, at a fixed point before
    # any warmup or timed rep, and record each build as its own line:
    # per-query numbers then measure steady-state plans only, on every
    # harness, in every run order. stage_boundary is eager
    # (localCheckpoint(eager=True)), so the builder call itself pays
    # the full materialization.
    bases: dict[str, float] = {}
    errors: dict[str, str] = {}

    def _time_base(base_name: str, build) -> None:
        t0 = time.time()
        try:
            build()
            bases[base_name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001 - recorded, not fatal
            errors[f"base:{base_name}"] = f"{type(exc).__name__}: {exc}"[:200]

    for base_name, build in base_builders(spark, sf_dir).items():
        _time_base(base_name, build)

    # The r01-baseline subset is the official cross-round comparison
    # (the driver diffs its sum against BASELINE.md), so it gets the
    # strongest variance treatment (VERDICT r07 item 2 — the subset
    # drifted +18% over three rounds on UNTOUCHED code, pure host
    # noise): one untimed warmup execution per subset query (JIT
    # compile + shuffle-file + memo builds land outside the timed
    # reps), then min-of-5 instead of min-of-3.
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_r01.json"
            )
        ) as fh:
            base_qs = json.load(fh)["parsed"]["queries"]
    except Exception:  # noqa: BLE001 - comparison aid only, never fatal
        base_qs = {}
    subset_names = set(base_qs)
    for name in subset_names:
        if name in qs:
            try:
                qs[name](spark, sf_dir).collect()
            except Exception:  # noqa: BLE001 - the timed loop records it
                pass

    # min + median per query; record BOTH min (steady-state engine
    # time, the headline) and median (load-robust — r02's 1.42x
    # "regression" was co-located harness load that medians would have
    # flagged as noise immediately; VERDICT r03 item 7). A single query
    # failure must not cost the whole bench line — recorded + skipped.
    all_timings: dict[str, float] = {}
    all_medians: dict[str, float] = {}
    # Per-rep dispersion (VERDICT r08 item 6): committing only point
    # estimates made r07<->r08 bench diffs unfalsifiable against host
    # noise — record min/median/max/stddev per query so a future diff
    # can test a "regression" against the run's own spread.
    all_dispersion: dict[str, dict] = {}
    bench_names = list(qs) if full else [n for n in HEADLINE if n in qs]
    for name in bench_names:
        runs: list[float] = []
        reps = 5 if name in subset_names else 3
        try:
            for _ in range(reps):
                t0 = time.time()
                qs[name](spark, sf_dir).collect()
                runs.append(time.time() - t0)
            all_timings[name] = round(min(runs), 3)
            all_medians[name] = round(sorted(runs)[len(runs) // 2], 3)
            mean = sum(runs) / len(runs)
            sd = (sum((r - mean) ** 2 for r in runs) / (len(runs) - 1)) ** 0.5
            all_dispersion[name] = {
                "min": round(min(runs), 3),
                "med": all_medians[name],
                "max": round(max(runs), 3),
                "sd": round(sd, 3),
                "n": len(runs),
            }
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]

    timings = {n: all_timings[n] for n in HEADLINE if n in all_timings}
    medians = {n: all_medians[n] for n in HEADLINE if n in all_medians}
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # Host load at the end of the run (1/5/15-min averages):
        # byte-identical code has measured 0.76x-1.11x across runs on
        # drifting hosts (VERDICT r12), and this round saw 3-7x VM
        # throttling — a bench diff first checks the recorded load
        # before adjudicating a delta. Additive field; the driver's
        # parsed line is unchanged.
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "queries": timings,
        "queries_median": medians,
        "queries_dispersion": {
            n: all_dispersion[n] for n in HEADLINE if n in all_dispersion
        },
        "total_median": round(sum(medians.values()), 3),
        # One-time session-memoized base builds, timed at a fixed
        # point before any warmup/timed rep — per-query numbers are
        # steady-state only (VERDICT r10 item 3).
        "bases": bases,
        "bases_total": round(sum(bases.values()), 3),
        "sf": sf,
    }
    if full:
        payload["queries_full"] = all_timings
        payload["queries_full_median"] = all_medians
        payload["queries_full_dispersion"] = all_dispersion
        payload["full_total_median"] = round(sum(all_medians.values()), 3)
        payload["n_queries_full"] = len(all_timings)
    # The headline set has grown since the round-1 baseline was recorded
    # (19 -> 76 queries); the raw total is therefore not apples-to-apples
    # against BENCH_r01.json. Emit the sum over exactly the baseline's
    # query set alongside, so total-vs-baseline comparisons have a
    # like-for-like number.
    subset = {k: timings[k] for k in base_qs if k in timings}
    if subset:
        payload["baseline_subset"] = {
            "value": round(sum(subset.values()), 3),
            "n_queries": len(subset),
            "baseline_value": round(sum(base_qs.values()), 3),
        }
    if errors:
        payload["errors"] = errors
    # Parallel-scaling evidence from tools/scaling_probe.py (VERDICT
    # r13 item 5): the 10x-fixture 8-vs-32-core record rides along in
    # the bench detail when it has been captured. Additive; absent
    # file changes nothing.
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALING_x10.json"
    )
    if os.path.exists(scaling_path):
        try:
            with open(scaling_path) as fh:
                payload["scaling_x10"] = json.load(fh)
        except Exception:  # noqa: BLE001 - evidence rider, never fatal
            pass
    # Bases-inclusive headline: shared work lives in timed but
    # unheadlined base builds, so the bases-blind "value" is not
    # comparable across runs whose base list differs. total_with_bases
    # is the like-for-like number; it is set before the dump so the
    # persisted record carries it too.
    payload["total_with_bases"] = round(total + payload["bases_total"], 3)
    # The full per-query payload outgrew the driver's stdout tail
    # capture in r04 ("parsed": null — 49 queries x min+median on one
    # line). Persist the full detail in-repo so rounds stay diffable,
    # and keep the driver-parsed stdout line compact (<300 bytes).
    with open(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
        ),
        "w",
    ) as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "total_median": payload["total_median"],
        "total_with_bases": payload["total_with_bases"],
        "n_queries": len(timings),
        "bases_total": payload["bases_total"],
        "sf": sf,
        "detail": "BENCH_local.json",
    }
    if "baseline_subset" in payload:
        compact["baseline_subset"] = payload["baseline_subset"]
    if errors:
        compact["n_errors"] = len(errors)
    # Driver-parseable per-query map (VERDICT r13 item 2). The driver
    # keeps only the LAST 2000 bytes of output, which is why the r04
    # full-name map broke parsing (76 full names alone are ~2 KB);
    # every registered name's family prefix (q01, d20, ...) is unique,
    # so a prefix-keyed map carries the whole headline in ~0.9 KB.
    # Full names + medians + dispersion stay in BENCH_local.json.
    compact["queries_key"] = "family-prefix; full names in BENCH_local.json"
    compact["queries"] = {n.split("_")[0]: t for n, t in timings.items()}
    line = json.dumps(compact)
    if len(line) > 1800:  # never risk evicting "value" from the tail
        del compact["queries"], compact["queries_key"]
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
