"""The request mixes and what each must exercise.

A pass runs every query of a mix once, in a seeded order. ``PASS_S`` is the
nominal warm wall of one pass on 4 cores; a run times
``max(MIN_PASSES, round(seconds / PASS_S))`` whole passes so that every run
of a workload times the same request mix. A traced run makes two traced
passes with one untraced pass between them instead. ``MUST_FIRE`` lists the
traced engine functions a workload exists to exercise: a traced run fails if
one of them is never called.
"""

from __future__ import annotations

MIXES: dict[str, list[str]] = {
    # the webapp read path: the final action (scan, broadcast/SMJ, shuffle)
    # dominates, except the NN join's eager construction jobs; no streams,
    # no Python state
    "serving": [
        "q_serving_radius",
        "q_serving_dashboard",
        "q_star_join",
        "q_join_nn",
        "q_join_asof_nearest",
        "q_runtime_filter",
        "q_tpch_shipping_priority",
    ],
    # every write-side path: batch ETL and upserts, incremental streams
    # (run to completion inside the catalog call on the stream thread), and
    # the training-data curation build (eager driver jobs during
    # construction from materialize, quotient detection and collects, plus
    # Python UDF work)
    "ingest": [
        "q_pipeline_listings",
        "q_merge_upsert",
        "q_stream_hourly",
        "q_stream_sessions",
        "q_dedup_minhash",
        "q_dedup_simhash",
    ],
}

PASS_S = {"serving": 6.0, "ingest": 7.5}
# untimed passes before the timed ones, the first of them checked against the
# oracles. Serving's first pass after the checked one still runs about a
# third slower than the next (JIT); a second warm-up pass on ingest did not
# steady its runs and costs about 9 s a run, which the run budget lacks
WARM_PASSES = {"serving": 2, "ingest": 1}
# two passes give every query a median and a maximum of two timed samples;
# a third would not fit the run budget (see README.md)
MIN_PASSES = 2

MUST_FIRE: dict[str, list[str]] = {
    "serving": [
        "operators.joins.nearest_join",
        "operators.joins.asof_join",
        "operators.util.materialize",
        "pipelines.serving.station_dashboard",
    ],
    "ingest": [
        "pipelines.listings.clean_zoopla",
        "streaming.incremental.run_stream_to_memory",
        "streaming.incremental.hourly_rollup_stream",
        "streaming.incremental.sessionize_stream",
        "operators.dedup.exact_dup_quotient",
        "operators.dedup.exact_dup_quotient_multi",
        "operators.dedup.minhash_signatures",
        "operators.dedup.lsh_candidate_pairs",
        "operators.dedup.simhash64",
        "operators.util.materialize",
    ],
}
