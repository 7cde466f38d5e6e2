"""The testdata reader's schema memo (sources/io.py:_read_parquet_memo).

``read_testdata`` infers each Parquet file's schema once per file version
and reads with the memoized schema after that, so a repeated table read
launches no footer-inference Spark job. These tests pin the saving (job
counts under a job group, not walls), the vintage and staleness guards of
the memo key, a key that stays put across an events read, and the directory
fall-through.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from dataengineering_londonhousingmap_spark.sources import io
from dataengineering_londonhousingmap_spark.sources.io import read_testdata

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ADV = os.path.join(ROOT, ".advdata")


def _jobs_of(spark, read) -> int:
    """Spark jobs the call ``read()`` launches, counted under a fresh job
    group once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _memo_keys_for(path: str) -> list[tuple]:
    return [k for k in io._SCHEMA_MEMO if k[0] == os.path.abspath(path)]


def test_second_read_runs_no_spark_job(spark, sf_dir, tmp_path):
    # a fresh copy has a fresh file identity, so the first read is a miss
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), tmp_path)
    first = _jobs_of(spark, lambda: read_testdata(spark, str(tmp_path), "lineitem"))
    again = []
    second = _jobs_of(spark, lambda: again.append(read_testdata(spark, str(tmp_path), "lineitem")))
    assert (first, second) == (1, 0)
    ref = spark.read.parquet(str(tmp_path / "lineitem.parquet"))
    assert again[0].schema == ref.schema
    assert again[0].count() == ref.count()


def test_vintage_swap_keeps_each_vintage_raw_schema(spark, sf_dir):
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_advdata.py")], check=True)
    for _ in range(2):  # a miss, then a hit, for each vintage in turn
        plain = read_testdata(spark, sf_dir, "events")
        adv = read_testdata(spark, ADV, "events")
        assert dict(plain.dtypes)["ts"] == "timestamp_ntz"
        assert dict(adv.dtypes)["ts"] == "timestamp"  # rebuilt from INT64 nanos
        assert plain.filter("ts IS NULL").count() == 0
        assert adv.filter("ts IS NULL").count() == 0
    raw = {
        d: {io._SCHEMA_MEMO[k]["ts"].dataType.simpleString() for k in _memo_keys_for(f"{d}/events.parquet")}
        for d in (sf_dir, ADV)
    }
    assert raw == {sf_dir: {"timestamp_ntz"}, ADV: {"bigint"}}


def test_rewritten_file_is_inferred_afresh(spark, sf_dir, tmp_path):
    path = tmp_path / "region.parquet"
    shutil.copy(os.path.join(sf_dir, "region.parquet"), path)
    before = read_testdata(spark, str(tmp_path), "region")
    assert before.columns == ["r_regionkey", "r_name"]
    read_testdata(spark, str(tmp_path), "region")  # now memoized
    new = pa.table({"r_regionkey": pa.array([7, 8], pa.int64()), "r_label": ["x", "y"], "w": [0.5, 1.5]})
    pq.write_table(new, path)
    after = read_testdata(spark, str(tmp_path), "region")
    assert after.dtypes == [("r_regionkey", "bigint"), ("r_label", "string"), ("w", "double")]
    assert sorted(tuple(r) for r in after.collect()) == [(7, "x", 0.5), (8, "y", 1.5)]


def test_events_read_does_not_flip_the_memo_key(spark, sf_dir, tmp_path):
    # a new session carries the builder's confs and none of the shared
    # session's runtime sets, like a fresh get_session process
    fresh = spark.newSession()
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path)
    assert _jobs_of(fresh, lambda: read_testdata(fresh, str(tmp_path), "region")) == 1
    read_testdata(fresh, sf_dir, "events")  # sets nanosAsLong session-wide
    assert _jobs_of(fresh, lambda: read_testdata(fresh, str(tmp_path), "region")) == 0


def test_directory_is_never_memoized(spark, sf_dir, tmp_path):
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.parquet(str(tmp_path / "region.parquet"))
    jobs = [_jobs_of(spark, lambda: read_testdata(spark, str(tmp_path), "region")) for _ in range(2)]
    assert jobs == [1, 1]
    assert _memo_keys_for(str(tmp_path / "region.parquet")) == []
