"""Oracle comparison on the ADVERSARIAL vintage (.advdata/): sf0.001 with
~5% NULL events.value and duplicated document texts injected
(tools/gen_advdata.py). The benign driver vintages never produce either
shape, so NULL-symmetry bugs (Spark collect_list drops NULLs, DuckDB
list() keeps them — the q_ewma/q_window_median class) and tied-key
tiebreak bugs stay latent until a vintage regeneration reds a driver row.
This gate runs the exposed families against their unchanged oracles on
the nasty data.

The FULL catalog passes against .advdata (run
``python .verify/driver_sim.py /root/repo/.advdata`` to confirm after
bigger changes); this module pins the most NULL/tie-sensitive subset so
the signal lives in the default suite at bounded cost.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from dataengineering_londonhousingmap_spark.oracles import ORACLES
from dataengineering_londonhousingmap_spark.queries import QUERIES

from .oracle_harness import compare, duck_connection

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ADV = os.path.join(ROOT, ".advdata")

# window/aggregate paths over events.value (NULL-sensitive) plus the dedup
# family (tied fingerprints/signatures from duplicated texts)
SENSITIVE = [
    "q_ewma",
    "q_window_median",
    "q_window_analytics",
    "q_window_range",
    "q_window_ranks",
    "q_winsorize",
    "q_outlier_mad",
    "q_impute",
    "q_interpolate",
    "q_gap_fill",
    "q_groupby_window_avg",
    "q_dedup_exact",
    "q_dedup_key",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_ngram_jaccard",
    "q_dedup_clusters",
    "q_pack_sequences",
    "q_heavy_hitters",
    "q_fingerprint",
    # streaming feeds must classify the NANOS ts vintage (round-1 shape)
    # before watermarking — the replay harness plus late-drop semantics
    # run end-to-end against the adversarial data
    "q_stream_hourly",
    "q_stream_late",
    # NULL user_id rows form their own session group; NULL values take the
    # coalesce-to-zero path of the session total
    "q_stream_sessions",
]


@pytest.fixture(scope="module")
def advdata():
    # always regenerate (deterministic, <2s): a stale .advdata from an
    # older generator vintage would silently weaken the gate
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_advdata.py")],
        check=True,
    )
    return ADV


@pytest.fixture(scope="module")
def duck_adv(advdata):
    con = duck_connection(advdata)
    yield con
    con.close()


def test_sensitive_list_is_current():
    missing = [q for q in SENSITIVE if q not in QUERIES or q not in ORACLES]
    assert not missing, f"renamed/removed catalog entries: {missing}"


@pytest.mark.parametrize("name", SENSITIVE)
def test_query_matches_oracle_on_adversarial_data(name, spark, advdata, duck_adv):
    df = QUERIES[name](spark, advdata)
    ok, msg = compare(df, duck_adv, ORACLES[name])
    assert ok, f"{name} on adversarial vintage: {msg}"
