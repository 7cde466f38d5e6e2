"""Physical-plan helpers shared by the composite operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow input before CPU-heavy row expansion
    (cross join against a broadcast side, shingle/token explode, per-row
    hashing) — but only when it is under-partitioned.

    Why: a small dimension scan is often one input split, so everything
    downstream of it until the first shuffle runs as ONE task no matter how
    many cores the cluster has. That is invisible at 60k rows and fatal when
    the expansion is ×|broadcast side|. At 100 TB the big fact side already
    has thousands of splits and this is a no-op.

    The under-partitioned check deliberately avoids ``df.rdd`` — converting
    to an RDD forces a full physical-planning pass per call and leaves an
    RDD-lineage sidecar. ``inputFiles()`` needs only the analyzed plan:
    a file-backed scan with ≥ target files already yields ≥ target splits
    (Spark splits large files, so files is a lower bound on partitions), so
    no shuffle is inserted into wide inputs. The one false positive — many
    tiny files coalesced below target by maxPartitionBytes packing — costs
    a narrow extra shuffle, never a wrong plan. Non-file-backed frames
    (createDataFrame, post-shuffle trees) report no files and get spread,
    which is exactly the call-site contract: fan_out wraps narrow sources.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # complex plans where inputFiles is unsupported
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def local_relation(spark, rows, schema) -> DataFrame:
    """Bounded driver-side rows → a TRUE ``LocalRelation`` (r12 opt).

    ``spark.createDataFrame(<python list>)`` parallelizes the pickled rows
    into ``defaultParallelism`` slices backed by a Python RDD — so EVERY
    evaluation of the frame (each broadcast build, each re-run) launches
    one python-worker round-trip per slice; measured inside the sparse-
    quotient expansion: a 33-task stage with ~0.6 s/task of pure
    ``PythonRunner.read`` wait and ~0 CPU. The pandas/Arrow path instead
    ships Arrow batches decoded JVM-side: plan leaf = ``LocalRelation``
    (exact stats, no job, no python workers at scan). Same rows, same
    schema, same values — only the physical source changes.

    Falls back to the classic path, with a RuntimeWarning, when the
    Arrow conversion fails (correctness is unaffected either way).

    NULL semantics (ADVICE r12): columns are built with OBJECT dtype so a
    ``None`` mixed into a numeric column survives as SQL NULL — a plain
    ``pd.DataFrame`` would infer float64 and turn it into NaN, which Arrow
    ships as NaN (not NULL) while the classic fallback ships NULL, a
    silent environment-dependent divergence. The explicit ``schema`` makes
    the Arrow conversion cast each object column to its declared type.
    """
    import pandas as pd

    cols = [f.name for f in schema.fields]
    pdf = pd.DataFrame(
        {
            c: pd.Series([row[i] for row in rows], dtype=object)
            for i, c in enumerate(cols)
        },
        columns=cols,
    )
    try:
        return spark.createDataFrame(pdf, schema)
    except Exception:
        # genuine conversion failures (schema mismatch, Arrow overflow)
        # should surface during development, but a LocalRelation helper
        # must never turn a working query into a hard failure in an
        # environment quirk — degrade to the pickled-RDD path WITH a
        # signal instead of silently (ADVICE r12: the bare except made a
        # real bug degrade into the exact perf problem this helper
        # removes, with no warning).
        import warnings

        warnings.warn(
            "local_relation: Arrow/pandas conversion failed; falling back "
            "to the slow pickled-RDD createDataFrame path",
            RuntimeWarning,
            stacklevel=2,
        )
        return spark.createDataFrame(rows, schema)


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage on a frame that feeds >1 plan subtree (or a driver-loop
    iteration) — the single chokepoint for every checkpoint in the engine.

    Default path is ``localCheckpoint``: blocks are executor-local and
    NON-REPLICATED, the right trade on this project's single-JVM local[N]
    deployment (and, unlike ``persist``, ContextCleaner-frees the blocks
    once the returned plan is GC'd — a cache referenced by a returned plan
    can never be unpersisted). The local-mode assumption is load-bearing:
    on a real cluster with dynamic allocation or spot executors, losing an
    executor loses its blocks, and the TRUNCATED lineage makes the job
    unrecoverable rather than merely slow.

    Cluster deployments set
    ``spark.conf.set("spark.dataengineering_londonhousingmap_spark.reliableCheckpoint", "true")``
    (plus ``sc.setCheckpointDir`` on a cluster-visible FS) to route every
    call site through a reliable checkpoint whose blocks survive executor
    loss. One flag flips the whole engine; call sites never choose.

    Note ``eager=True`` (the default) runs a Spark job at
    DataFrame-CONSTRUCTION time — building a plan through ``materialize``
    executes work. That is deliberate at every eager call site (the frame
    is always consumed, and laziness would replay the subtree per
    consumer); pass ``eager=False`` only for iteratively-rebound loop
    state where the next iteration's action triggers the cut anyway.
    """
    sess = df.sparkSession
    reliable = sess.conf.get(
        "spark.dataengineering_londonhousingmap_spark.reliableCheckpoint", "false"
    )
    if str(reliable).lower() == "true":
        # fail fast with an actionable message: the conf profile
        # (session.cluster_conf) can set the flag but cannot set the
        # required checkpoint dir — without this check the user gets an
        # opaque SparkException deep inside the first eager checkpoint
        # job at runtime
        try:
            dir_set = sess.sparkContext._jsc.sc().checkpointDir().isDefined()
        except Exception:
            dir_set = True  # introspection unavailable (e.g. Connect) — let Spark decide
        if not dir_set:
            raise RuntimeError(
                "spark.dataengineering_londonhousingmap_spark.reliableCheckpoint=true requires a "
                "checkpoint directory: call "
                "spark.sparkContext.setCheckpointDir('<cluster-visible path>') "
                "before running any query (see operators/util.materialize)"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


_GLOBAL_SORT_LIMIT_BYTES = 1 << 30


def guard_global_sort(df: DataFrame, operator: str) -> None:
    """Refuse to run a global (unpartitioned) ``Window.orderBy`` over an
    input estimated above 1 GiB instead of silently serializing it through
    one task. Positional operators (zip_join, whole-stream sessionization)
    inherit the reference's row-order semantics and genuinely need a total
    order — correct on the dimension-sized inputs they were built for,
    pathological if someone points them at a fact table.

    Uses Catalyst's optimized-plan size ESTIMATE (driver-side, no job); an
    unavailable estimate passes (never block on a guard).
    """
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        est = int(raw if isinstance(raw, int) else str(raw))
    except Exception:
        return
    if est >= (1 << 63) - 1:
        # Long.MaxValue is Catalyst's UNKNOWN-size sentinel
        # (spark.sql.defaultSizeInBytes default), not a real estimate —
        # never block on it
        return
    if est > _GLOBAL_SORT_LIMIT_BYTES:
        raise ValueError(
            f"{operator}: input estimated at {est} bytes would be sorted in a "
            f"SINGLE task (global Window.orderBy). Use the partitioned variant."
        )


def exact_avg_cents(col: str):
    """Engine-stable average of an exact-2-decimal column: integer-exact
    numerator (round(sum×100) is an exact integer) over the non-null count —
    ONE IEEE division, bit-identical in every engine at every scale.
    ``round(avg(x), d)`` is NOT stable: sum/count lands on decimal half-way
    points where Spark (exact-binary HALF_UP) and DuckDB (multiply-and-round)
    disagree. SQL twin: CAST(round(sum(x)*100, 0) AS BIGINT) / (100e0 * count(x)).
    """
    from pyspark.sql import functions as F

    return F.round(F.sum(col) * 100, 0).cast("long") / (F.count(col) * 100.0)


# chars Spark Hive-escapes in partition directory names, mirrored from
# org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.charToEscape
# (ASCII 0x01-0x1F control chars plus the literal set below; bytes >= 0x80
# and NUL are written raw). Parity with the JVM implementation is pinned
# by tests/test_operators.py::test_hive_partition_dirname_matches_jvm.
_HIVE_ESCAPE_CHARS = frozenset(
    [chr(c) for c in range(0x01, 0x20)]
    + list('"#%\'*/:=?\\\x7f{[]^')
)


def hive_partition_dirname(value) -> str:
    """The directory-name component Spark writes for a partition VALUE —
    ``part_col=<this>`` on disk. NULL and the empty string both land in
    ``__HIVE_DEFAULT_PARTITION__`` (ExternalCatalogUtils.
    getPartitionValueString), every other value is Hive-escaped
    (``escapePathName``: ``%XX`` uppercase hex for control chars and
    ``" # % ' * / : = ? \\ DEL { [ ] ^``).

    Any writer that retires a fully-emptied partition by deleting its
    directory MUST build the path with this, not ``str(value)`` — a value
    containing an escaped char (``a/b``, ``x=y``) otherwise targets a
    nonexistent dir and the stale files silently survive (round-8
    advisor; same gap the round-7 NULL fix closed for None).
    """
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    s = str(value)
    if s == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPE_CHARS else c for c in s
    )
