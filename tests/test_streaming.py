"""Structured Streaming behavior tests beyond the oracle gate: late-data
watermark semantics and stateful dedup, driven through the real streaming
engine with rate-limited file micro-batches."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dataengineering_londonhousingmap_spark.operators.util import exact_avg_cents
from dataengineering_londonhousingmap_spark.queries import STAGE_DIR
from dataengineering_londonhousingmap_spark.streaming.incremental import (
    dedup_stream,
    hourly_rollup_stream,
    read_events_stream,
    run_stream_to_memory,
)

SF = "/root/testdata/sf0.001"


def test_hourly_rollup_matches_batch(spark):
    stream_out = run_stream_to_memory(
        hourly_rollup_stream(read_events_stream(spark, SF)),
        "t_hourly", "complete",
    ).orderBy("hour", "event_type")
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    batch = (
        read_testdata(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(exact_avg_cents("value").alias("avg_value"), F.count("*").alias("n"))
        .orderBy("hour", "event_type")
    )
    assert [r.asDict() for r in stream_out.collect()] == [r.asDict() for r in batch.collect()]


def test_dedup_stream_drops_within_watermark_duplicates(spark, tmp_path):
    """Feed two micro-batch files where the second re-delivers half of the
    first (the reference's retry double-insert scenario) — the stateful
    dedup must emit each event_id once."""
    src = os.path.join(STAGE_DIR, "stream_dedup_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src, exist_ok=True)

    base = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.lit(1704067200000000) + F.col("id") * 60_000_000).alias("ts_us"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") * 1.5).alias("value"),
        F.lit("{}").alias("props"),
    )
    batch1 = base.filter("event_id < 60")
    redelivery = base.filter("event_id >= 30")  # 30-59 are duplicates
    batch1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    redelivery.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))

    stream = (
        spark.readStream.schema(
            "event_id long, ts_us long, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )
    out = run_stream_to_memory(
        dedup_stream(stream, watermark="10 hours").select("event_id"),
        "t_dedup", "append",
    )
    ids = [r.event_id for r in out.collect()]
    assert sorted(ids) == list(range(100)), "each event_id exactly once"


def test_rollup_is_incremental_not_recompute(spark):
    """Append mode + watermark: windows older than the watermark horizon
    finalize and their state is dropped — verify the stream runs in append
    mode at all (guards against accidental complete-mode-only operators)."""
    events = read_events_stream(spark, SF)
    q = (
        hourly_rollup_stream(events, watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("t_append_ok")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # finite input: all-but-last windows are final under append semantics;
    # memory table exists and the query ran without AnalysisException
    assert spark.table("t_append_ok").columns == ["hour", "event_type", "avg_value", "n"]


def test_sessionize_stream_gap_semantics(spark, tmp_path):
    """Closed sessions emit with correct boundaries/aggregates; the trailing
    session younger than the final watermark stays in state."""
    import pandas as pd

    from dataengineering_londonhousingmap_spark.streaming.incremental import sessionize_stream

    src = str(tmp_path / "sess_src")
    rows = [
        # user 7: two sessions separated by a 40-min gap, then a late
        # trailing session within the 2h watermark horizon of max ts
        (7, "2024-01-01 10:00:00", 1.0),
        (7, "2024-01-01 10:10:00", 2.0),
        (7, "2024-01-01 10:50:01", 4.0),   # > 30 min after 10:10 → new session
        (7, "2024-01-01 13:30:00", 8.0),   # trailing, stays open
        # user 9: single session → nothing emitted
        (9, "2024-01-01 11:00:00", 1.5),
        (8, "2024-01-01 14:00:00", 0.5),   # advances global watermark
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src)
    )
    from dataengineering_londonhousingmap_spark.streaming.incremental import run_stream_to_memory

    out = run_stream_to_memory(
        sessionize_stream(stream), "t_sessions", "append"
    )
    got = {
        (r.user_id, str(r.session_start), r.n_events, r.total_value)
        for r in out.collect()
    }
    # session 1 closed by successor; session 2 closed by watermark timeout
    # (ends 10:50, +30min < 14:00 - 2h = 12:00); 13:30 session still open;
    # user 9's session (11:00 +30min < 12:00) times out too
    assert (7, "2024-01-01 10:00:00", 2, 3.0) in got
    assert (7, "2024-01-01 10:50:01", 1, 4.0) in got
    assert (9, "2024-01-01 11:00:00", 1, 1.5) in got
    assert not any(u == 7 and s.startswith("2024-01-01 13:30") for u, s, _, _ in got)


def test_closed_sessions_keeps_successor_closed_inside_final_horizon(spark, tmp_path):
    """The case append mode gets wrong: a session closed by its successor
    whose end + gap is still past the final watermark is never evicted in
    append mode, yet it is closed. Complete mode + closed_sessions must
    emit it, and must still hold back the user's trailing open session."""
    from dataengineering_londonhousingmap_spark.streaming.incremental import (
        closed_sessions,
        sessionize_stream,
    )

    src = str(tmp_path / "closed_src")
    rows = [
        # user 7: session 10:00-10:10 closed by the 11:00 successor; its
        # end + 30min = 10:40 is NOT before the final watermark
        # (12:00 - 2h = 10:00), so only the successor closes it
        (7, "2024-01-01 10:00:00", 1.0),
        (7, "2024-01-01 10:05:00", None),  # NULL value counts, sums as 0
        (7, "2024-01-01 10:10:00", 2.0),
        (7, "2024-01-01 11:00:00", 4.0),   # trailing, stays open
        (9, "2024-01-01 08:00:00", 1.5),   # 08:30 < 10:00: watermark-closed
        (8, "2024-01-01 12:00:00", 0.5),   # sets max ts; trailing, open
        # NULL user: no successor relation (SQL equality, as the oracle),
        # so only the watermark closes its sessions — 08:00 but not 10:00
        (None, "2024-01-01 08:00:00", 2.5),
        (None, "2024-01-01 10:00:00", 3.5),
        (None, "2024-01-01 11:00:00", 4.5),
    ]
    (
        spark.createDataFrame(rows, "user_id long, ts string, value double")
        .withColumn("ts", F.to_timestamp("ts"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(src)
    )
    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src)
    sessions = run_stream_to_memory(
        sessionize_stream(stream), "t_closed_sessions", "complete"
    )
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.total_value)
        for r in closed_sessions(sessions).collect()
    }
    assert got == {
        (7, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 3, 3.0),
        (9, "2024-01-01 08:00:00", "2024-01-01 08:00:00", 1, 1.5),
        (None, "2024-01-01 08:00:00", "2024-01-01 08:00:00", 1, 2.5),
    }


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """A parquet-sink stream restarted from its checkpoint must not
    re-emit already-committed micro-batches (the engine's answer to the
    reference's double-insert-on-retry load path)."""
    import pandas as pd

    src = str(tmp_path / "cp_src")
    sink = str(tmp_path / "cp_sink")
    cp = str(tmp_path / "cp_state")

    pdf = pd.DataFrame(
        {"event_id": range(100), "value": [float(i) for i in range(100)]}
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("event_id long, value double")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)

    run_once()
    n1 = spark.read.parquet(sink).count()
    run_once()  # restart from checkpoint, no new source data
    n2 = spark.read.parquet(sink).count()
    assert n1 == 100
    assert n2 == 100, f"restart duplicated rows: {n2}"


def test_available_now_incremental_batches(spark, tmp_path):
    """The incremental-batch pattern that subsumes the reference's @monthly
    drop-and-reload: each availableNow run processes exactly the files that
    arrived since the last checkpointed offset — old files are never
    re-read, new files are never missed."""
    import pandas as pd

    from dataengineering_londonhousingmap_spark.streaming.incremental import (
        start_parquet_sink,
    )

    src = str(tmp_path / "inc_src")
    sink = str(tmp_path / "inc_sink")
    cp = str(tmp_path / "inc_cp")

    def land(ids):
        pdf = pd.DataFrame({"event_id": list(ids), "value": [float(i) for i in ids]})
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema("event_id long, value double").parquet(src)
        q = start_parquet_sink(stream, sink, cp)
        q.awaitTermination(60)

    land(range(0, 50))
    run_once()
    assert spark.read.parquet(sink).count() == 50

    land(range(50, 80))
    run_once()  # second scheduled run: only the 30 new rows
    out = spark.read.parquet(sink)
    assert out.count() == 80
    # exactly-once: every id exactly once, none duplicated or dropped
    assert out.select("event_id").distinct().count() == 80


def test_watermark_drops_late_data(spark, tmp_path):
    """An event arriving in a later micro-batch with event time older than
    the advanced watermark must be DROPPED from the windowed aggregate —
    bounded state means late data has a deadline."""
    import pandas as pd

    src = str(tmp_path / "late_src")
    sink_name = "t_late"

    def write_batch(rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    # batch 1: establishes watermark at max_ts - 10 minutes = 11:50
    write_batch([(1, "2024-01-01 10:00:00", 1.0), (1, "2024-01-01 12:00:00", 2.0)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour"), "n")
    )
    try:
        spark.catalog.dropTempView(sink_name)
    except Exception:
        pass
    q = agg.writeStream.format("memory").queryName(sink_name).outputMode("append").start()
    try:
        q.processAllAvailable()
        # batch 2: one on-time event and one 2-hours-late event (10:30,
        # before the 11:50 watermark → dropped)
        write_batch([(1, "2024-01-01 12:30:00", 3.0), (1, "2024-01-01 10:30:00", 99.0)])
        q.processAllAvailable()
        # batch 3: advance watermark far enough to close every window
        write_batch([(1, "2024-01-01 15:00:00", 0.0)])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = {str(r.hour): r.n for r in spark.table(sink_name).collect()}
    # the 10:00 window holds ONE event — the late 10:30 arrival was dropped
    assert got.get("2024-01-01 10:00:00") == 1, got
    # the 12:00 window holds both on-time events
    assert got.get("2024-01-01 12:00:00") == 2, got


def test_upsert_sink_applies_cdc_per_partition(spark, tmp_path):
    """foreachBatch CDC apply: latest batch wins per key, inserts land, and
    partitions absent from a batch are never rewritten."""
    import glob
    import os

    import pandas as pd

    from dataengineering_londonhousingmap_spark.streaming.incremental import (
        start_upsert_sink,
    )

    src = str(tmp_path / "cdc_src")
    table = str(tmp_path / "cdc_table")
    cp = str(tmp_path / "cdc_cp")

    def land(rows):
        pdf = pd.DataFrame(rows, columns=["k", "part", "v", "seq"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(
            "k long, part string, v double, seq long"
        ).parquet(src)
        q = start_upsert_sink(stream, table, cp, key_col="k", partition_col="part", order_col="seq")
        q.awaitTermination(60)

    land([(1, "A", 1.0, 1), (2, "A", 2.0, 1), (3, "B", 3.0, 1)])
    run_once()
    got = {(r.k, r.part, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0)}

    b_files = {f: os.path.getmtime(f) for f in glob.glob(f"{table}/part=B/*.parquet")}
    # update k=1, insert k=4 (both partition A); B untouched; within-batch
    # duplicate for k=4 resolved by seq (latest wins)
    land([(1, "A", 10.0, 2), (4, "A", 4.0, 2), (4, "A", 40.0, 3)])
    run_once()
    got = {(r.k, r.part, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "A", 10.0), (2, "A", 2.0), (3, "B", 3.0), (4, "A", 40.0)}
    assert b_files == {
        f: os.path.getmtime(f) for f in glob.glob(f"{table}/part=B/*.parquet")
    }


def test_upsert_sink_retires_moved_key_rows(spark, tmp_path):
    """Moved keys: when a key's new latest row lands in a
    DIFFERENT partition, the stale row in the old partition is retired
    instead of surviving as a duplicate (ADVICE r02)."""
    import pandas as pd

    from dataengineering_londonhousingmap_spark.streaming.incremental import (
        start_upsert_sink,
    )

    src = str(tmp_path / "mv_src")
    table = str(tmp_path / "mv_table")
    cp = str(tmp_path / "mv_cp")

    def land(rows):
        pdf = pd.DataFrame(rows, columns=["k", "part", "v", "seq"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(
            "k long, part string, v double, seq long"
        ).parquet(src)
        q = start_upsert_sink(
            stream, table, cp,
            key_col="k", partition_col="part", order_col="seq",
        )
        q.awaitTermination(60)

    land([(1, "A", 1.0, 1), (2, "A", 2.0, 1), (3, "B", 3.0, 1)])
    run_once()
    # k=1 moves partition A → B in a later batch
    land([(1, "B", 100.0, 2)])
    run_once()
    got = {(r.k, r.part, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "B", 100.0), (2, "A", 2.0), (3, "B", 3.0)}, got
    # k=2 also moves away — partition A is now EMPTY. Dynamic overwrite
    # only replaces partitions present in the written data, so without the
    # explicit empty-partition drop A's old file would survive as a stale
    # cross-partition duplicate of k=2 (round-7 repro).
    land([(2, "B", 200.0, 3)])
    run_once()
    got = {(r.k, r.part, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "B", 100.0), (2, "B", 200.0), (3, "B", 3.0)}, got


def test_upsert_sink_null_partition_rows_are_merged_not_dropped(spark, tmp_path):
    """NULL partition values (Hive's __HIVE_DEFAULT_PARTITION__) must merge
    like any other partition: isin() never matches NULL, so pre-fix the
    existing NULL-partition rows were skipped from the merge and then
    DROPPED when the dynamic overwrite rewrote that partition with only
    the batch's keys (round-7 audit). Also covers the sorted() TypeError
    on None-vs-str in the moved-key probe."""
    import pandas as pd

    from dataengineering_londonhousingmap_spark.streaming.incremental import (
        start_upsert_sink,
    )

    src = str(tmp_path / "np_src")
    table = str(tmp_path / "np_table")
    cp = str(tmp_path / "np_cp")

    def land(rows):
        # explicit schema: an all-None pandas column would infer BOOLEAN
        spark.createDataFrame(
            rows, "k long, part string, v double, seq long"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(
            "k long, part string, v double, seq long"
        ).parquet(src)
        q = start_upsert_sink(
            stream, table, cp,
            key_col="k", partition_col="part", order_col="seq",
        )
        q.awaitTermination(60)

    land([(1, None, 1.0, 1), (2, None, 2.0, 1), (3, "B", 3.0, 1)])
    run_once()
    # update k=1 inside the NULL partition: k=2's existing NULL-partition
    # row must SURVIVE the rewrite
    land([(1, None, 10.0, 2)])
    run_once()
    got = {(r.k, r.part, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, None, 10.0), (2, None, 2.0), (3, "B", 3.0)}, got


def test_upsert_sink_fails_loudly_on_unreadable_table(spark, tmp_path):
    """Only path-not-found may fall back to the batch-only merge: any other
    table read failure (corrupt footer, transient FS error) must FAIL the
    micro-batch instead of silently rewriting the batch's partitions
    without the table's existing rows (round-7 audit: the bare
    except-Exception was a silent-data-loss path)."""
    import os

    import pandas as pd
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dataengineering_londonhousingmap_spark.streaming.incremental import (
        start_upsert_sink,
    )

    src = str(tmp_path / "bad_src")
    table = str(tmp_path / "bad_table")
    cp = str(tmp_path / "bad_cp")
    # a table dir that EXISTS but is unreadable as parquet
    os.makedirs(table)
    with open(os.path.join(table, "part-corrupt.parquet"), "w") as fh:
        fh.write("this is not parquet")

    pdf = pd.DataFrame([(1, "A", 1.0, 1)], columns=["k", "part", "v", "seq"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "k long, part string, v double, seq long"
    ).parquet(src)
    q = start_upsert_sink(
        stream, table, cp, key_col="k", partition_col="part", order_col="seq"
    )
    with pytest.raises(StreamingQueryException):
        q.processAllAvailable()
    q.stop()


def test_late_data_rollup_drop_boundary(spark, tmp_path):
    """Pins the watermark drop rule the q_stream_late oracle replays:
    batch-2 rows are kept iff window_end > (max ts of batch 1 − delay);
    EQUALITY drops. Synthetic 4-row feed, independent of testdata vintage:
      batch 1 (even ids): 10:05, 12:00  → wm = 11:00 exactly
      batch 2 (odd ids):  10:59 (window end 11:00 == wm → DROP),
                          11:10 (window end 12:00 > wm → KEEP)."""
    from dataengineering_londonhousingmap_spark.streaming.incremental import late_data_rollup

    rows = [
        (0, "2024-01-01 10:05:00", "a", 1.0),
        (2, "2024-01-01 12:00:00", "a", 2.0),
        (1, "2024-01-01 10:59:00", "a", 4.0),
        (3, "2024-01-01 11:10:00", "a", 8.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, value double"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    out = late_data_rollup(
        spark, ev, stage_dir=str(tmp_path / "late"), sink_name="t_late_boundary",
    )
    got = {
        (str(r["window_start"]), r["n"], r["sum_value"]) for r in out.collect()
    }
    assert got == {
        ("2024-01-01 10:05:00"[:11] + "10:00:00", 1, 1.0),  # 10:59 dropped
        ("2024-01-01 11:00:00", 1, 8.0),                     # 11:10 kept
        ("2024-01-01 12:00:00", 1, 2.0),
    }


def test_stream_harness_restores_shuffle_partitions(spark, sf_dir):
    """The narrowed state-partition conf is scoped to writeStream.start();
    a leak would silently shrink every subsequent batch shuffle in the
    session (the conf is session-global). The session value is set above
    the core count so the scope really narrows."""
    from dataengineering_londonhousingmap_spark.queries import QUERIES

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    wide = str(spark.sparkContext.defaultParallelism * 8)
    spark.conf.set(key, wide)
    try:
        QUERIES["q_stream_hourly"](spark, sf_dir).count()
        assert spark.conf.get(key) == wide
    finally:
        spark.conf.set(key, before)


def test_stream_harness_raced_conf_restores_then_raises(spark):
    """If a concurrent writer mutates spark.sql.shuffle.partitions inside
    the narrowed scope, the guard must (a) raise a real RuntimeError (not
    an -O-strippable assert) AND (b) restore the ORIGINAL value before
    raising — a detected race must never leave the session conf narrowed
    for all subsequent batch queries (round-6 advisor)."""
    import pytest

    from dataengineering_londonhousingmap_spark.streaming.incremental import (
        _platform_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    wide = str(spark.sparkContext.defaultParallelism * 8)
    spark.conf.set(key, wide)
    try:
        with pytest.raises(RuntimeError, match="raced the stream-start scope"):
            with _platform_state_partitions(spark):
                assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
                spark.conf.set(key, "5")  # the racing writer
        assert spark.conf.get(key) == wide
    finally:
        spark.conf.set(key, before)


def test_stream_state_partitions_follow_platform(spark, tmp_path):
    """A stateful stream's state-store count is the session's shuffle
    partitions capped at the local master's cores: 4 on this local[8]
    session stays 4, 64 runs as 8 and the session still reads 64 after.
    Read from the stream's own progress, as a StreamingQueryListener sees
    it."""
    from pyspark.sql.streaming import StreamingQueryListener

    src = str(tmp_path / "src")
    spark.range(40).selectExpr("id % 5 AS k").coalesce(1).write.parquet(src)
    seen = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            seen.extend(op.numShufflePartitions for op in event.progress.stateOperators)

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    cores = spark.sparkContext.defaultParallelism
    assert cores == 8
    listener = Listener()
    spark.streams.addListener(listener)
    try:
        for session_value, expected in (("4", 4), ("64", 8)):
            spark.conf.set(key, session_value)
            seen.clear()
            stream = spark.readStream.schema("k long").parquet(src)
            out = run_stream_to_memory(
                stream.groupBy("k").count(), "t_state_partitions", "complete"
            )
            assert out.count() == 5
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            assert seen and set(seen) == {expected}
            assert spark.conf.get(key) == session_value
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, before)


def test_cluster_conf_ships_rocksdb_state_store():
    """The documented 1000-executor posture must carry the RocksDB state
    store + changelog checkpointing."""
    from dataengineering_londonhousingmap_spark.session import cluster_conf

    conf = cluster_conf()
    assert conf["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert (
        conf["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"]
        == "true"
    )


def test_get_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """A get_session session writes stream checkpoints through the
    FileSystem-based manager. Spark's default FileContext manager checks
    link status during every rename, and without the native Hadoop library
    each check spawns a readlink process. cluster_conf keeps the default."""
    from dataengineering_londonhousingmap_spark.session import cluster_conf

    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    mgr = pkg.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "cp")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    if mgr.getClass().getSimpleName() == "ChecksumCheckpointFileManager":
        field = mgr.getClass().getDeclaredField("underlyingFileMgr")
        field.setAccessible(True)
        mgr = field.get(mgr)
    assert mgr.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    assert "spark.sql.streaming.checkpointFileManagerClass" not in cluster_conf()


def test_is_path_not_found_classifies_structurally(spark, tmp_path):
    """PATH_NOT_FOUND detection must be the AnalysisException's error
    CLASS, not a substring of its rendered message (Spark rewords messages
    across versions — a reworded message would make every first batch fail
    instead of bootstrapping the table, round-8 advisor). A different
    AnalysisException class must NOT be treated as first-batch even if a
    future message happened to mention a path."""
    import pytest
    from pyspark.errors import AnalysisException

    from dataengineering_londonhousingmap_spark.streaming.incremental import _is_path_not_found

    with pytest.raises(AnalysisException) as nf:
        spark.read.parquet(str(tmp_path / "definitely_missing")).collect()
    assert _is_path_not_found(nf.value)

    with pytest.raises(AnalysisException) as other:
        spark.sql("select definitely_not_a_column from range(1)").collect()
    assert not _is_path_not_found(other.value)

    # last-resort substring fallback for engines without error classes
    assert _is_path_not_found(RuntimeError("x Path does not exist y"))
    assert not _is_path_not_found(RuntimeError("corrupt footer"))


def test_upsert_sink_retires_escaped_char_partition_dir(spark, tmp_path):
    """A fully-retired partition whose VALUE carries Hive-escaped chars
    ('=', '/', ':') must have its on-disk dir dropped: building the
    deletion path with str(part) targets a nonexistent dir and the old
    file survives as a stale cross-partition duplicate — the same gap the
    round-7 fix closed for NULL (round-8 advisor)."""
    import glob

    from dataengineering_londonhousingmap_spark.streaming.incremental import start_upsert_sink

    src = str(tmp_path / "esc_src")
    table = str(tmp_path / "esc_table")
    cp = str(tmp_path / "esc_cp")

    def land(rows):
        spark.createDataFrame(
            rows, "k long, part string, v double, seq long"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(
            "k long, part string, v double, seq long"
        ).parquet(src)
        q = start_upsert_sink(
            stream, table, cp,
            key_col="k", partition_col="part", order_col="seq",
        )
        q.awaitTermination(60)

    land([(1, "a=b/c:d", 1.0, 1), (2, "B", 2.0, 1)])
    run_once()
    assert glob.glob(f"{table}/part=a%3Db%2Fc%3Ad/*.parquet")  # precondition
    # k=1 (the escaped partition's only occupant) moves to partition B
    land([(1, "B", 10.0, 2)])
    run_once()
    assert not glob.glob(f"{table}/part=a%3Db%2Fc%3Ad/*"), "stale dir survived"
    got = {(r.k, r.part, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "B", 10.0), (2, "B", 2.0)}, got


def test_upsert_sink_recovers_exactly_once_after_transient_read_failure(
    spark, tmp_path
):
    """X73's contract under the round-7 fallback fix: a TRANSIENT table
    read failure (corrupt footer staged mid-stream) fails the micro-batch
    — it must NOT overwrite the table with a batch-only merge — and a
    restarted stream on the SAME checkpoint retries that batch
    exactly-once: the update is neither lost nor doubled and the table's
    pre-existing rows survive."""
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dataengineering_londonhousingmap_spark.streaming.incremental import start_upsert_sink

    src = str(tmp_path / "rec_src")
    table = str(tmp_path / "rec_table")
    cp = str(tmp_path / "rec_cp")

    def land(rows):
        spark.createDataFrame(
            rows, "k long, part string, v double, seq long"
        ).coalesce(1).write.mode("append").parquet(src)

    def start():
        stream = spark.readStream.schema(
            "k long, part string, v double, seq long"
        ).parquet(src)
        return start_upsert_sink(
            stream, table, cp, key_col="k", partition_col="part", order_col="seq"
        )

    # batch 1 bootstraps the table
    land([(1, "A", 1.0, 1), (2, "A", 2.0, 1)])
    q = start()
    q.awaitTermination(60)
    assert {(r.k, r.v) for r in spark.read.parquet(table).collect()} == {
        (1, 1.0), (2, 2.0),
    }

    # inject a transient failure: a corrupt file makes the table read blow
    # up mid-merge for batch 2
    bad = os.path.join(table, "part-injected-corrupt.parquet")
    with open(bad, "w") as fh:
        fh.write("not parquet")
    land([(1, "A", 10.0, 2)])
    q = start()
    with pytest.raises(StreamingQueryException):
        q.processAllAvailable()
    q.stop()
    # the failed batch must not have rewritten partition A without k=2
    os.remove(bad)
    assert {(r.k, r.v) for r in spark.read.parquet(table).collect()} == {
        (1, 1.0), (2, 2.0),
    }, "failed micro-batch mutated the table"

    # restart on the same checkpoint: batch 2 retries exactly-once
    q = start()
    q.awaitTermination(60)
    got = sorted((r.k, r.v) for r in spark.read.parquet(table).collect())
    assert got == [(1, 10.0), (2, 2.0)], got


# The protobuf canary for transformWithStateInPandas moved to
# tests/test_environment_canaries.py (r11: all environment-limit canaries
# consolidated in one file).
