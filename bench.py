#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (count() alone can be
satisfied from metadata for scan-shaped plans). Timings are per-query wall
seconds; `value` is the sum.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataengineering_londonhousingmap_spark.queries import QUERIES
from dataengineering_londonhousingmap_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: the serving star join + big-fact aggregation, the custom
# NN join both ways, the training-data pipeline (dedup/similarity/text),
# streaming rollup, and the scan path
HEADLINE = [
    "q_scan_parquet",
    "q_star_join",
    "q_pipeline_listings",
    "q_serving_dashboard",
    "q_groupby_avg",
    "q_groupby_window_avg",
    "q_join_nn",
    "q_join_nn_gridded",
    "q_join_asof",
    "q_join_salted",
    "q_join_bucketed",
    "q_rollup",
    "q_split_sessions",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_ngram_jaccard",
    "q_dedup_simhash",
    "q_dedup_embed",
    "q_embed_topk",
    "q_embed_ann_ivf",
    "q_corpus_curation",
    "q_sql_entry",
    "q_text_quality",
    "q_token_count",
    "q_multimodal_features",
    "q_stream_hourly",
    "q_stream_sessions",
    # round-2 shapes: gridded geo-radius serving, window-cumsum packing,
    # hash-stratified sampling, and the full corpus-build composite
    "q_serving_radius",
    "q_pack_sequences",
    "q_sample_stratified",
    "q_pipeline_corpus",
    # round-2b shapes: inverted-index BM25, windowed MERGE, shingle-join
    # decontamination, chunking (narrow map fan-out), cohort retention
    "q_text_search",
    "q_merge_upsert",
    "q_decontaminate",
    "q_chunk_docs",
    "q_retention",
    # round-2c shapes: winsorize (percentile broadcast-clamp), two-level
    # deterministic shuffle, Simpson char diversity, grouping-sets lattice,
    # streaming CDC upsert apply
    "q_winsorize",
    "q_shuffle_corpus",
    "q_char_diversity",
    "q_grouping_sets",
    "q_stream_cdc",
    # round-2d shapes: global-bigram coverage scoring, point-in-time SCD2
    "q_corpus_stats_score",
    "q_scd2_lookup",
    # round-3 shapes: TF-IDF (two-shuffle text agg), native session
    # windows, sliding stream rollup, bloom-style fact-scan pruning,
    # full-outer snapshot diff, and the Python-UDTF escape hatch
    "q_tfidf",
    "q_session_window",
    "q_stream_sliding",
    "q_runtime_filter",
    "q_snapshot_diff",
    "q_udtf",
    # round-3b shapes: Markov transitions (lead window + tiny agg),
    # broadcast-vocab OOV scoring, PMI collocation mining, and the
    # watermark late-drop two-batch replay
    "q_transition_matrix",
    "q_vocab_oov",
    "q_collocations",
    "q_stream_late",
    # round-3c shapes: index-relative incremental dedup, bounded-key
    # co-occurrence, iterative weighted propagation, sort-free equi-depth,
    # and rank correlation from value-table cumsums
    "q_dedup_incremental",
    "q_copurchase",
    "q_pagerank",
    "q_equidepth",
    "q_spearman_corr",
    # round-3d shapes: TPC-H Q3/Q5 join trees (pushed filters + broadcast
    # snowflake), degree-oriented triangle counting, the dual-pass nearest
    # as-of, and the GK-bracket robust-outlier two-pass
    "q_tpch_shipping_priority",
    "q_tpch_local_volume",
    "q_triangle_count",
    "q_join_asof_nearest",
    "q_outlier_mad",
]


def _spreads(timings: dict[str, float], second: dict[str, float]) -> list[float]:
    # second-best/best per query, sub-0.3s walls excluded (scheduler-
    # overhead-bounded; their ratios are meaningless)
    return sorted(
        second[k] / v for k, v in timings.items() if v > 0.3 and k in second
    )


def _median_spread(timings: dict[str, float], second: dict[str, float]) -> float:
    s = _spreads(timings, second)
    return round(s[len(s) // 2], 2) if s else 1.0


def _max_spread(timings: dict[str, float], second: dict[str, float]) -> float:
    s = _spreads(timings, second)
    return round(s[-1], 2) if s else 1.0


def main() -> None:
    spark = get_session("dataengineering_londonhousingmap-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + parquet footers so the first timed query isn't paying
    # session startup
    QUERIES["q_scan_parquet"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    # best-of-2 per query: the first run pays one-off costs (plan JIT,
    # python-worker spin-up, page cache) that aren't the engine's steady
    # state; min-of-N is the standard way to measure the plan itself
    import gc

    # Host-drift controls: r08's +19% total needed manual isolated control
    # runs to adjudicate as firecracker-neighbor noise (PLANS.md drift
    # protocol). These five queries are code-frozen (touching their code
    # requires re-pinning REF below) with meaningful wall at sf0.1; their
    # reference timings are the r07/r08 committed-bench means, so
    # drift = median(now/ref) estimates THIS session's host factor and
    # normalized_total = value/drift is the round-over-round comparable.
    # five controls, median-combined: single-query noise on this host is
    # ±30% (r09: two back-to-back quiet-host runs disagreed 75.0 vs 79.7s
    # total with 3 controls), so the set spans join/graph/stream/text
    # families and excludes iterative driver loops (q_pagerank read 1.84 /
    # 2.91 / 4.88s across three same-day sessions — useless as a control).
    # REF RE-PIN (r12 opt): the session now disables PySpark's per-call
    # debugging hook (session.py), which speeds up every query's
    # CONSTRUCTION — controls included. The r07/r08 refs below were
    # recorded with the hook ON, so un-adjusted refs would deflate the
    # drift estimate by ~5 % (median control construction saving) and
    # spuriously inflate normalized_total for the whole suite. Each ref is
    # the r07/r08 mean minus that control's measured hook construction
    # delta (best-of-5 plan-only walls, hook on vs off, two rounds,
    # OPTIMIZATION_r12.md): dashboard −0.227, triangle −0.049,
    # join_nn −0.043, copurchase −0.062, stream_hourly −0.048. Control
    # CODE remains frozen; only the pinned refs moved, per this file's
    # standing re-pin protocol.
    controls_ref = {
        "q_serving_dashboard": 2.477,  # r07 2.755 / r08 2.652 → 2.704 − 0.227
        "q_triangle_count": 2.624,     # r07 2.635 / r08 2.711 → 2.673 − 0.049
        "q_join_nn": 1.122,            # r07 1.09  / r08 1.24  → 1.165 − 0.043
        "q_copurchase": 1.228,         # r07 1.26  / r08 1.32  → 1.290 − 0.062
        "q_stream_hourly": 0.717,      # r07 0.67  / r08 0.86  → 0.765 − 0.048
    }

    # Interleaved drift sentinel (r13, VERDICT r12 task 5): one single-shot
    # rep of a code-frozen control every 8 headline queries, emitted as
    # `ctrl_series` (wall/ref ratios in sequence order). A drift WINDOW —
    # the r12 failure mode where one control read 0.82× its ref while
    # another read 1.45× in the same session — is now localizable to the
    # batch of queries it poisoned instead of only showing up as a
    # suite-wide spread. The sentinel reps run OUTSIDE every timed window
    # (between queries, gc'd like any other) and only ADD a key to the
    # JSON line; per-query timings, the query set, and the methodology are
    # unchanged. q_join_nn is the sentinel: mid-cost (~1.1 s), join-family,
    # already warmed early in the sequence by its own headline slot.
    CTRL_SENTINEL = "q_join_nn"
    ctrl_series: list[float] = []

    timings: dict[str, float] = {}
    second_best: dict[str, float] = {}
    for qi, name in enumerate(HEADLINE):
        if qi > 0 and qi % 8 == 0:
            t0 = time.time()
            df = QUERIES[CTRL_SENTINEL](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            ctrl_series.append(round((time.time() - t0) / controls_ref[CTRL_SENTINEL], 2))
            df = None
            gc.collect()
        runs: list[float] = []
        for _ in range(2):
            t0 = time.time()
            df = QUERIES[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        # the two runs disagreeing >30% means one of them caught host
        # noise (firecracker neighbors) — a third rep settles it for the
        # noisy minority without tripling total wall for the stable rest
        if min(runs) > 0.3 and max(runs) > 1.3 * min(runs):
            t0 = time.time()
            df = QUERIES[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)
        second_best[name] = round(sorted(runs)[1], 3)
        # drop the plan refs and collect BETWEEN queries: localCheckpoint
        # blocks and broadcasts are ContextCleaner-freed only once the
        # Python DataFrame objects are GC'd, and 60+ queries of retained
        # state inflate late-session timings up to 2.6x vs a fresh session
        # (measured r04: q_corpus_stats_score 4.0s shared vs 1.5s fresh).
        # The cleanup cost sits OUTSIDE the timed window.
        df = None
        gc.collect()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    ratios = sorted(
        timings[c] / ref for c, ref in controls_ref.items() if c in timings and ref > 0
    )
    drift = round(ratios[len(ratios) // 2], 3) if ratios else 1.0
    total = round(sum(timings.values()), 3)
    # ONE compact JSON line, sized for the driver's 2000-char TAIL capture
    # (BENCH_r09.json arrived truncated from the front and unparseable —
    # VERDICT r09 task 2): per-query walls at 2dp, no whitespace, terse
    # methodology, and the verdict numbers (value / controls / drift /
    # normalized_total) LAST so any truncation eats detail, not the
    # round-over-round comparables. Key order is load-bearing.
    out = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "sf": float(sf),
        # best-of-2 warm (3rd rep when runs disagree >30%), noop sink,
        # shared session, per-query gc outside the timed window;
        # normalized_total = value / median(control wall / pinned
        # r07-r08 control ref) — the full protocol lives in PLANS.md
        "methodology": "best-of-2-warm-noop;normalized=value/median(control ratios)",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        # Per-query noise bands (VERDICT r10 task 4): each control emits
        # [wall/ref ratio, second-best wall] — best wall is already in
        # `queries`, so [best, second] per control is recoverable, giving
        # the within-session spread a judge needs to separate host noise
        # from a real regression without cross-referencing BENCH_LOCAL
        # (the r10 driver session read one control at ×1.49 while total
        # drift read 1.001). spread_med/spread_max summarize second/best
        # over EVERY headline query with best > 0.3s — spread_max IS this
        # session's per-query ± band (±30-50% is normal on this host; see
        # the PLANS.md drift protocol).
        "controls": {
            c: [round(timings[c] / ref, 3), round(second_best[c], 2)]
            for c, ref in controls_ref.items()
            if c in timings
        },
        # single-shot q_join_nn wall/ref after every 8th headline query —
        # the in-session drift TIMELINE (see CTRL_SENTINEL above)
        "ctrl_series": ctrl_series,
        "spread_med": _median_spread(timings, second_best),
        "spread_max": _max_spread(timings, second_best),
        "value": total,
        "host_drift": drift,
        "normalized_total": round(total / drift, 3) if drift > 0 else total,
    }
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # stay under the tail buffer with margin
        out["queries"] = {k: round(v, 1) for k, v in timings.items()}
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        # drop the per-control second-best walls (spread_med/spread_max
        # keep the noise-band summary); never let detail push the verdict
        # numbers out of the driver's 2000-char tail capture
        out["controls"] = {
            c: v[0] for c, v in out["controls"].items()
        }
        line = json.dumps(out, separators=(",", ":"))
    while len(line) > 1900 and out["ctrl_series"]:
        # last resort: thin the drift timeline to every other sample
        # (coarser but still a timeline), repeatedly, down to dropping it,
        # before anything else gives
        series = out["ctrl_series"]
        out["ctrl_series"] = series[::2] if len(series) > 1 else []
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
