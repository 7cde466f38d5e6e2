"""SparkSession builders tuned for this engine.

Two profiles:

* :func:`get_session` — local[N] test/bench profile. Shuffle partitions sized
  to cores (the default 200 over-parallelizes small local runs), AQE on so
  runtime statistics re-plan joins/partitions, Arrow on for any pandas-UDF
  escape hatches.
* :func:`cluster_conf` — the conf dict a 1000-executor deployment would use;
  documented here so the scale story is explicit even though tests run local.

Design notes for 100 TB (SURVEY.md §4.3):
  - AQE handles skew-join splitting and post-shuffle coalescing at runtime;
    we declare plans and let it re-plan with real sizes.
  - ``spark.sql.files.maxPartitionBytes`` at 128 MiB gives ~800k input splits
    for 100 TB — fine for 1000 executors × 5 cores.
  - Broadcast threshold stays conservative (64 MiB): dimension tables in this
    workload (stations/sites/name-mappings ≈ thousands of rows) are all far
    below it, while fact-fact joins fall through to sort-merge + AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Respect the driver's CPU budget; local[32] with 32 shuffle partitions keeps
# one post-shuffle task per core with no scheduling waves on test data.
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Entries in the JVM-wide cache of compiled generated classes (static conf,
# read once when CodeGenerator first initialises). Sized from the whole
# catalog's working set, see get_session.
CODEGEN_CACHE_MAX_ENTRIES = 4096


def get_session(
    app_name: str = "dataengineering_londonhousingmap_spark",
    cpus: str | int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Local test/bench session. Idempotent (getOrCreate). ``ui=True`` turns
    the Spark UI and its REST API on (tools/profile_query.py reads stage
    metrics from it); every other conf is the same."""
    cpus = str(cpus or _CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # one post-shuffle partition per core locally; AQE coalesces further
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the pandas-UDF escape hatches (similarity, multimodal)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # oracle comparisons (DuckDB is UTC-naive) require a pinned zone
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off to match the reference's lenient arithmetic; the cleaning
        # library itself is try_cast-based so malformed→NULL semantics hold
        # under EITHER mode (the driver's vanilla session runs Spark 4's
        # ANSI-on default — verified by the test suite's ANSI session)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", str(ui).lower())
        # PySpark 4's DataFrame-debugging hook wraps EVERY DataFrame/Column
        # API call with a conf-get RPC plus origin set/clear RPCs plus a
        # Python stack walk (pyspark/errors/utils.py:_with_origin) — ~3
        # extra py4j round-trips per call, only to enrich error messages
        # with Python call sites. On expression-dense plans that is the
        # dominant CONSTRUCTION cost (q_dedup_simhash builds ~192 Columns:
        # plan wall 2.04 → 0.61 s with the hook off, r12 opt measurement).
        # Driver-side overhead, scale-independent — off in every profile.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark's default codegen cache holds 100 compiled classes; a
        # long-lived session replaying a mix of queries needs more, or it
        # evicts and recompiles (Janino on the driver thread, then JIT
        # again) the same generated source on every pass. Measured with
        # CodegenMetrics' compile count, local[4]: the 7-query serving mix
        # recompiled 168 classes per warm pass at sf0.01, the 6-query
        # ingest mix 113; at 4096 both compile 0 after their first pass.
        # Sizing rule: the whole catalog's distinct generated sources, plus
        # headroom. One process running all 211 catalog queries at sf0.001
        # with an unbounded cache compiled 2600 distinct sources on pass 0
        # (2195 with the stage id out of class names, below) and 51 (39)
        # new ones on pass 1. The cache stays bounded, so that per-pass
        # trickle is evicted rather than kept. Metaspace after one full
        # catalog pass: 229 MB at 4096 entries, 213 MB at 100 (77 MB at
        # session start). No plan or result changes.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # The cache key is the generated source, and by default the class
        # name in it carries the whole-stage codegen stage id. AQE numbers
        # stages in the order it plans them, which follows which shuffle
        # stage finished first, so the same pipeline comes back under
        # another id on a later run and misses the cache: the serving mix
        # at sf0.001 on local[8] kept compiling 2-12 such renamed twins per
        # warm pass for up to four passes. Without the id every warm pass
        # compiles 0. The id stays in the source's codegenStageId comment.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # read_testdata("events") and read_events_stream set this
        # session-wide before reading events (INT64-nanosecond vintages);
        # pinning it here keeps the conf, and with it the testdata
        # schema-memo key (sources/io.py), the same for every read of the
        # process instead of flipping at the first events read
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def cluster_conf(executors: int = 1000, cores_per_executor: int = 5) -> dict[str, str]:
    """The conf a large-cluster deployment of this engine would ship.

    Not applied in tests (no cluster here); kept as the single source of
    truth for the scale design point and exercised by unit test only for
    internal consistency.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # ~3 waves of post-shuffle tasks; AQE coalesces small ones anyway.
        # Also the stream state-store count: the harness caps it at the
        # cores only on a local master (streaming/incremental.py:
        # _platform_state_partitions), so on a cluster every stateful
        # stream keeps this value, frozen by its FIRST checkpoint
        "spark.sql.shuffle.partitions": str(total_cores * 3),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.ansi.enabled": "false",
        # disable the PySpark call-site-capture hook (3 py4j RPCs per
        # DataFrame/Column API call, error-message enrichment only) — pure
        # driver overhead at any scale; see get_session
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # hold the catalog's generated classes instead of recompiling them
        # on every pass of a long-lived session; see get_session
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
        "spark.sql.codegen.useIdInClassName": "false",
        # with dynamic allocation / spot executors, executor-local
        # localCheckpoint blocks don't survive executor loss — flip every
        # materialize() call site to reliable checkpoints (requires
        # sc.setCheckpointDir on a cluster-visible FS; see
        # operators/util.materialize)
        "spark.dataengineering_londonhousingmap_spark.reliableCheckpoint": "true",
        # ---- streaming state posture (r10) --------------------------------
        # RocksDB state store: keyed stream state (sessionization, stateful
        # dedup, CDC apply) lives off-heap and spills to local disk instead
        # of executor heap — the HDFSBackedStateStore default keeps every
        # version in memory and is the OOM shape at production key
        # cardinality. Changelog checkpointing uploads per-batch deltas
        # rather than full RocksDB snapshots.
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
