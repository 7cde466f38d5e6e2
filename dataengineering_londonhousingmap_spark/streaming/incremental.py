"""Incremental ingest via Structured Streaming (SURVEY.md §2.9).

The reference has no streaming: its air-quality pipeline re-extracts a
sliding 1-day window on an @monthly DAG and drop-and-reloads the fact table
(pipeline .py:773-779, .py:59). This module is the engine's upgrade — the
same logical capability (a continuously maintained hourly pollution rollup)
as an actual incremental pipeline:

* event-time **watermark** bounds late sensor data (the reference's only
  late-data story was coercing empty values to 0, .py:747);
* **windowed aggregation** mirrors the A4 rollup (per site/species hourly
  mean);
* **dropDuplicatesWithinWatermark** gives rerun idempotence the reference
  lacks (its loads double-insert on retry).

At scale this runs against a file/Kafka source with checkpointing; state
store size is bounded by the watermark horizon × key cardinality. The
number of state stores follows the platform: the session's shuffle
partitions, capped at the local master's cores (see
``_platform_state_partitions``). Tests drive finite parquet data through
the real streaming engine with a memory sink (processAllAvailable =
synchronous completion).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.util import exact_avg_cents, hive_partition_dirname, materialize

# events.parquet has carried INT64 timestamps at nanosecond (round-1 data,
# unreadable as TimestampType by Spark's parquet reader) or microsecond
# (current data) precision — the stream reads the raw long and rebuilds a
# µs timestamp either way (see _ts_from_epoch_long)
EVENTS_RAW_NANOS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # ns or µs since epoch
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# epoch-unit watershed: 1e17 µs ≈ year 5138, 1e17 ns ≈ 1973 — any epoch in
# between 1973 and 5138 classifies unambiguously by magnitude
_NS_THRESHOLD = 10**17


def _ts_from_epoch_long(col):
    """Rebuild a µs TimestampType from an epoch INT64 of either unit.

    Exact integral division — never double ``/`` — on the ns branch: the
    double path promotes the long through a 53-bit mantissa, and ns epochs
    (~1.7e18) don't fit, truncating ~1.6% of values 1 µs low. decimal(20,0)
    holds any INT64 exactly, so ``floor(decimal / 1000)`` is exact."""
    ns_to_us = F.floor(col.cast("decimal(20,0)") / 1000).cast("long")
    return F.timestamp_micros(F.when(col > _NS_THRESHOLD, ns_to_us).otherwise(col))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one file = one micro-batch
    locally; a directory of arriving files / Kafka topic in production)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_RAW_NANOS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", _ts_from_epoch_long(F.col("ts")))


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """A4 as a stream: tumbling 1-hour windows per event_type with a
    watermark bounding state (§2.9: the air_quality hourly rollup shape,
    keyed by (site_code, species_code) in the domain pipeline)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(exact_avg_cents("value").alias("avg_value"), F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour"), "event_type", "avg_value", "n")
    )


@contextmanager
def _platform_state_partitions(spark: SparkSession):
    """Cap ``spark.sql.shuffle.partitions`` at the local master's cores
    around ``writeStream.start()``. The stream execution CLONES the session
    conf at start, and every stateful operator creates one state-store
    instance per shuffle partition per micro-batch, so on a local master
    any partition beyond ``defaultParallelism`` is a state store that
    waits for a core (a vanilla local[4] session's 200 made q_stream_hourly
    ~8× slower). A session already at or below its cores — every
    ``get_session`` session — is left untouched, and on any other master
    state parallelism is the session's shuffle partitions as they are: a
    cluster sizes it to key cardinality through its own conf. A stream's
    state partitioning is frozen by its first checkpoint.

    NOT concurrency-safe: the narrow-and-restore mutates session-global
    conf, so two streams started concurrently from one session (or a batch
    action racing the with-block) could observe or restore the wrong
    value. Safe here because the harness is single-threaded per session;
    the restore checks the conf still holds the narrowed value so an
    interleaving writer fails loudly instead of silently persisting the
    wrong setting. The check is a real RuntimeError (an ``assert`` would
    be compiled out under ``python -O``), and the original value is
    restored BEFORE raising — a detected race must never leave the
    session conf narrowed for every subsequent batch query."""
    key = "spark.sql.shuffle.partitions"
    sc = spark.sparkContext
    old = spark.conf.get(key)
    cores = sc.defaultParallelism
    if not sc.master.startswith("local") or int(old) <= cores:
        yield
        return
    token = str(cores)
    spark.conf.set(key, token)
    try:
        yield
    finally:
        current = spark.conf.get(key)
        spark.conf.set(key, old)
        if current != token:
            raise RuntimeError(
                f"{key} changed inside a _platform_state_partitions block "
                f"(expected {token!r}, found {current!r}) — a concurrent "
                f"conf writer raced the stream-start scope; original "
                f"value {old!r} has been restored"
            )


def _stage_once(df: DataFrame, prep_dir: str) -> None:
    """Write ``df`` as parquet to ``prep_dir`` once per process (idempotent
    via the _SUCCESS marker). The two-batch replay harnesses re-feed the
    SAME deterministic batches every invocation; re-running the Spark write
    job per call only re-pays the staging cost."""
    if not os.path.exists(os.path.join(prep_dir, "_SUCCESS")):
        df.coalesce(1).write.mode("overwrite").parquet(prep_dir)


def _link_batch(prep_dir: str, dst_dir: str) -> None:
    """Make the pre-staged batch 'arrive' in the stream's input dir via
    hardlinks — an O(files) metadata operation instead of a write job, so
    the batch boundary (files appear between processAllAvailable calls)
    is pinned exactly as before."""
    os.makedirs(dst_dir, exist_ok=True)
    for f in os.listdir(prep_dir):
        if f.endswith(".parquet"):
            os.link(os.path.join(prep_dir, f), os.path.join(dst_dir, f))


def _two_batch_stream(
    spark: SparkSession,
    batch_a: DataFrame,
    batch_b: DataFrame,
    stage_dir: str,
    schema: T.StructType | str,
) -> tuple[DataFrame, Callable[[], None]]:
    """Stage two batches under ``stage_dir`` and land batch a in a fresh
    input dir. Returns the file-source stream over that dir and the
    callable that lands batch b — what the two-batch replay harnesses pass
    as ``run_stream_to_memory``'s ``arrive``."""
    in_dir = os.path.join(stage_dir, "in")
    shutil.rmtree(in_dir, ignore_errors=True)
    _stage_once(batch_a, os.path.join(stage_dir, "prep_a"))
    _stage_once(batch_b, os.path.join(stage_dir, "prep_b"))
    _link_batch(os.path.join(stage_dir, "prep_a"), os.path.join(in_dir, "batch_a"))
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    return stream, lambda: _link_batch(
        os.path.join(stage_dir, "prep_b"), os.path.join(in_dir, "batch_b")
    )


def late_data_rollup(
    spark: SparkSession,
    events_batch: DataFrame,
    stage_dir: str,
    watermark: str = "1 hour",
    sink_name: str = "late_rollup_sink",
) -> DataFrame:
    """Watermark LATE-DATA DROP semantics made deterministic: the events
    table is replayed as TWO micro-batches (even event_ids, then odd), so
    the watermark established by batch 1 (max event time − delay) drops
    batch-2 rows whose hourly window has already been finalized.

    The drop rule, probed empirically on this engine: a late row is kept
    iff its window END is STRICTLY greater than the watermark
    (``end == wm`` drops — state for that window was just evicted). The
    DuckDB oracle replays exactly that rule in SQL, making an
    inherently-runtime streaming behavior oracle-exact.

    Update-mode memory sink: a window updated by batch 2 appears twice;
    the final value per key is the row with the max count (counts only
    grow), picked with one max(struct) agg — no order-dependent reads.

    At scale this is the production shape directly: file/Kafka source,
    watermarked tumbling agg, idempotent sink; the two-batch feed is only
    the test harness' way of pinning batch boundaries."""
    ev = events_batch.select("event_id", "ts", "event_type", "value")
    stream, arrive_b = _two_batch_stream(
        spark,
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        stage_dir,
        "event_id long, ts timestamp, event_type string, value double",
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("__n"), F.sum("value").alias("__sum"))
    )
    # batch 1 establishes the watermark; the engine drops batch 2's late rows
    sunk = run_stream_to_memory(agg, sink_name, "update", arrive=arrive_b)
    final = (
        sunk.groupBy("w", "event_type")
        .agg(F.max(F.struct("__n", "__sum")).alias("__m"))
    )
    return final.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        F.col("__m.__n").alias("n"),
        F.round(F.col("__m.__sum"), 4).alias("sum_value"),
    )


def dedup_two_batch_replay(
    spark: SparkSession,
    batch_a: DataFrame,
    batch_b: DataFrame,
    stage_dir: str,
    key_col: str,
    watermark: str = "1 hour",
    sink_name: str = "dedup_replay_sink",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` across TWO micro-batches — the
    at-least-once boundary of watermarked dedup, made deterministic and
    oracle-checkable. Both input batches must already be unique per
    ``key_col`` (pre-dedup them batch-side) so the only dedup the ENGINE
    performs is cross-batch state lookup.

    Empirically probed rules this engine applies to batch-2 rows (the
    oracle must replay them exactly):
      * late filter: kept iff ``ts`` STRICTLY > watermark
        (= max batch-1 ts − delay; equality drops);
      * re-admission: a key whose batch-1 state has expired
        (``state_ts + delay <= wm`` — equality expires) is EMITTED AGAIN —
        the documented at-least-once caveat of watermark-bounded dedup
        state, usually invisible in single-batch tests."""
    # watermarks require TIMESTAMP (with zone); the testdata vintage may
    # read as TIMESTAMP_NTZ — exact cast under the pinned UTC session
    batch_a = batch_a.withColumn("ts", F.col("ts").cast("timestamp"))
    batch_b = batch_b.withColumn("ts", F.col("ts").cast("timestamp"))
    stream, arrive_b = _two_batch_stream(spark, batch_a, batch_b, stage_dir, batch_a.schema)
    dd = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key_col])
    # batch 1 seeds state and the watermark; batch 2 meets late drop,
    # dedup and re-admission
    return run_stream_to_memory(dd, sink_name, "append", arrive=arrive_b)


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful dedup on event id within the watermark horizon — the rerun-
    idempotence operator (replaces the reference's double-insert-on-retry).
    State is dropped once the watermark passes (bounded memory)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user inactivity-gap sessionization on Catalyst's streaming
    MergingSessions exec (``F.session_window`` under a watermark): the
    streaming upgrade of the batch marker-sessionization R5, with no Python
    worker on the ingest path.

    One row per session: first and last event time, event count and the
    NULL-as-zero value total. In append mode a session is emitted once the
    watermark passes its end + gap, so state stays bounded on an unbounded
    feed. Complete mode re-emits every session in state, open ones
    included; ``closed_sessions`` then keeps exactly the closed ones.

    Native rather than a pandas state machine: the latter ran the same
    gap semantics 3.46× slower at sf0.1 (AB_SESSIONIZE_r12.json), ~99% of
    it in the Python stateful addBatch (STREAM_PROFILE_r11.json).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
        )
        .drop("session_window")
    )


def closed_sessions(
    sessions: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """The CLOSED sessions of a finished ``sessionize_stream`` run (a batch
    filter over its complete-mode sink table). A session is closed when
    its user has a later session (a successor event closed it), or when
    the final watermark has passed ``session_end + gap``. The final
    watermark is Spark's own: max event time − ``watermark``. So only each
    user's trailing session younger than that horizon stays open. A NULL
    ``user_id`` is no known user, so as under SQL equality no session is
    its successor and only the watermark closes NULL-user sessions.

    The final watermark is a one-row global aggregate run once as a scalar
    subquery: an unpartitioned window would pull every session onto one
    task."""
    from pyspark.sql import Window

    final_wm = sessions.select(
        F.max("session_end") - F.expr(f"INTERVAL {watermark}")
    ).scalar()
    return (
        sessions.withColumn("__last", F.max("session_start").over(Window.partitionBy("user_id")))
        .filter(
            (F.col("user_id").isNotNull() & (F.col("session_start") < F.col("__last")))
            | (F.col("session_end") + F.expr(f"INTERVAL {gap_minutes} MINUTES") < final_wm)
        )
        .drop("__last")
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: match right rows to left rows
    with the same ``key`` whose event time falls within ``[left_ts,
    left_ts + interval]``. Both sides carry watermarks so the join state is
    PURGEABLE — without the time bound the state grows forever (the classic
    stream-join failure at scale). Spark plans this as a symmetric hash
    join over watermark-bounded state.

    ``right`` uses its natural column names (``key``/``right_ts`` name its
    columns directly); every right column comes back ``r_``-prefixed in the
    output so the two sides never collide.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.select([F.col(c).alias(f"r_{c}") for c in right.columns]).withWatermark(
        f"r_{right_ts}", watermark
    )
    cond = (
        (l[key] == r[f"r_{key}"])
        & (r[f"r_{right_ts}"] >= l[left_ts])
        & (r[f"r_{right_ts}"] <= l[left_ts] + F.expr(f"INTERVAL {interval}"))
    )
    return l.join(r, cond, "inner")


def _is_path_not_found(e: Exception) -> bool:
    """Classify "the table directory doesn't exist yet" STRUCTURALLY: the
    error class of a PySpark AnalysisException (PATH_NOT_FOUND), not a
    substring of its rendered message — Spark rewords messages across
    versions, and a reworded message would make every first batch of the
    upsert sink FAIL instead of bootstrapping the table (round-8 advisor).
    The message substrings remain as a last-resort fallback for engines
    that predate error classes."""
    from pyspark.errors import AnalysisException

    if isinstance(e, AnalysisException):
        for attr in ("getCondition", "getErrorClass"):  # 4.x name, then 3.x
            get = getattr(e, attr, None)
            if get is not None:
                try:
                    cond = get()
                except Exception:
                    continue
                if cond is not None:
                    return cond == "PATH_NOT_FOUND"
        # AnalysisException without a condition: fall through to substrings
    msg = str(e)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


def start_parquet_sink(df: DataFrame, sink_dir: str, checkpoint_dir: str):
    """Production sink wiring: append the stream to a Parquet table with a
    ``checkpointLocation`` for exactly-once delivery, triggered
    ``availableNow`` — process everything pending, then stop.

    This is the incremental-batch pattern that subsumes the reference's
    @monthly drop-and-reload DAG (pipeline .py:59, .py:1008-1018): run the
    job on any schedule and the checkpoint guarantees each input file is
    processed EXACTLY once across restarts — a crashed or re-triggered run
    resumes from the offset log instead of double-loading (the reference's
    executemany retry double-inserts). Returns the started query; callers
    ``awaitTermination()``.
    """
    with _platform_state_partitions(df.sparkSession):
        return (
            df.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )


def start_upsert_sink(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str,
    partition_col: str,
    order_col: str | None = None,
    keys_move_partitions: bool = False,
):
    """Streaming CDC apply: upsert each micro-batch into a Hive-partitioned
    Parquet table via ``foreachBatch`` — the change-data-capture landing
    pattern (new key → insert, existing key → latest batch wins).

    Per batch: the affected partitions are read back (partition-pruned),
    merged with the batch under a first-by-priority window (batch rows rank
    above stored rows), ``localCheckpoint``-ed to sever the self-read
    lineage, and rewritten under dynamic partition overwrite — cost scales
    with the batch's blast radius, not the table. The checkpoint log makes
    delivery exactly-once across restarts, and a retried batch re-merges
    idempotently (same keys, same winners). ``order_col`` breaks ties when
    one batch carries several rows for a key (highest wins — pass the
    event-time column for latest-wins CDC); without it, same-key rows
    within one batch are broken arbitrarily, so suppliers of
    multi-row-per-key batches should always pass it.

    Affected partitions = the batch's own partitions, plus — when
    ``keys_move_partitions`` — any partition currently holding one of the
    batch's keys (a broadcast semi-join probe of the table), so a key whose
    new latest row lands in a DIFFERENT partition gets its stale row
    retired instead of surviving as a duplicate. Leave it False only when
    the partition column is immutable per key (then the probe is pure
    cost); a partition left empty by a move is rewritten with its remaining
    rows. Returns the started query; callers ``awaitTermination()``.
    """
    from pyspark.sql import Window

    spark = df.sparkSession

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        cols = batch.columns
        affected = {r[0] for r in batch.select(partition_col).distinct().collect()}
        new = batch.withColumn("__pri", F.lit(0))
        try:
            table = spark.read.parquet(table_dir)
            if keys_move_partitions:
                moved = (
                    table.join(
                        F.broadcast(batch.select(key_col).distinct()),
                        key_col,
                        "leftsemi",
                    )
                    .select(partition_col)
                    .distinct()
                    .collect()
                )
                affected |= {r[0] for r in moved}
            # a NULL partition value (Hive's __HIVE_DEFAULT_PARTITION__)
            # needs an explicit isNull arm: isin() never matches NULL, so
            # the existing NULL-partition rows would be skipped here and
            # then DROPPED when the dynamic overwrite rewrites that
            # partition with only the batch's keys (round-7 audit: same
            # negated/positive-isin-over-nullable class as purge_keys)
            non_null = [v for v in affected if v is not None]
            cond = (
                F.col(partition_col).isin(non_null) if non_null else F.lit(False)  # py4j-audited: one micro-batch's affected-partition values; the literal IN is what statically prunes the table scan to those partitions
            )
            if None in affected:
                cond = cond | F.col(partition_col).isNull()
            existing = (
                table.filter(cond)
                .select(cols)
                .withColumn("__pri", F.lit(1))
            )
            merged = new.unionByName(existing)
        except Exception as e:
            # ONLY the first-batch case (table dir not created yet) may
            # fall back to batch-only merge. A bare except here turned any
            # OTHER read failure (corrupt footer, transient FS error) into
            # "pretend the table is empty" — and the subsequent dynamic
            # overwrite then rewrote the batch's partitions WITHOUT the
            # table's existing rows: silent data loss on a transient
            # error (round-7 audit). Anything but path-not-found re-raises
            # and fails the micro-batch, which is what checkpointed
            # streaming retries are for.
            if not _is_path_not_found(e):
                raise
            merged = new
        order = [F.col("__pri").asc()]
        if order_col is not None:
            order.append(F.col(order_col).desc())
        w = Window.partitionBy(key_col).orderBy(*order)
        winners = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(cols)
            .transform(materialize)
        )
        # per-write option, NOT a session conf: foreachBatch executes on a
        # CLONED SparkSession, so session-conf toggles set here (or on the
        # outer session) don't reach this write — the writer option does.
        (
            winners.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(table_dir)
        )
        # dynamic overwrite only replaces partitions PRESENT in the written
        # data — an affected partition whose every row was retired (a moved
        # key was its only occupant) must be dropped explicitly or its old
        # files survive as a stale cross-partition duplicate of the key
        # (round-7 repro; same empty-partition gap purge_keys closes).
        kept = {r[0] for r in winners.select(partition_col).distinct().collect()}
        jvm = spark._jvm
        for part in affected - kept:
            # built exactly the way Spark writes it — NULL and Hive-escaped
            # chars included (round-8 advisor; see hive_partition_dirname)
            dirname = hive_partition_dirname(part)
            jpath = jvm.org.apache.hadoop.fs.Path(
                f"{table_dir}/{partition_col}={dirname}"
            )
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(jpath, True)

    with _platform_state_partitions(df.sparkSession):
        return (
            df.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def run_stream_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str,
    *,
    arrive: Callable[[], None] | None = None,
) -> DataFrame:
    """Drive a finite streaming DataFrame to completion against a memory
    sink and return the materialized result (test/driver harness — a real
    deployment writes to a partitioned Parquet/Delta sink with a
    checkpointLocation instead). ``arrive``, when given, lands a second
    batch in the source after the first drain; the stream is then drained
    again, so the second micro-batch meets the watermark and state the
    first one left."""
    spark = df.sparkSession
    # best-effort replace of a stale sink view from a prior run —
    # dropTempView returns False (never raises) when the view is absent
    spark.catalog.dropTempView(name)
    with _platform_state_partitions(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )
    try:
        q.processAllAvailable()
        if arrive is not None:
            arrive()
            q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    return spark.table(name)


def sliding_rollup_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Sliding-window rollup (2-hour windows every hour): each event lands
    in exactly two overlapping windows — the moving-average shape tumbling
    windows can't express. State is bounded by watermark just like the
    tumbling rollup; the batch twin assigns each row its two epoch-aligned
    window starts explicitly (window length / slide = 2 copies)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(exact_avg_cents("value").alias("avg_value"), F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "avg_value",
            "n",
        )
    )
