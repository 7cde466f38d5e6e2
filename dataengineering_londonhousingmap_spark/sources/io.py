"""Sources & sinks (SURVEY.md §2.1 S1-S12, Spark-first).

The reference stages CSV in S3 between Airflow tasks (pipeline
``.py:309-327``, read back ``.py:842-844``) and loads Postgres row-at-a-time
(``.py:870-885``). Here the interchange format is Parquet (columnar, splittable,
predicate-pushdown-able), CSV/JSON readers take explicit schemas (never
``inferSchema`` — the analog of the reference's up-front DDL, ``database_schema
.sql:2-66``), and all sinks are bulk ``df.write`` (the row loop disappears).

At 100 TB the scan path is the whole game: every reader here produces plans
where Catalyst pushes filters/projections into the Parquet scan
(``PushedFilters``/``ReadSchema`` in ``.explain``), and sinks partition by the
natural pruning key so downstream reads prune.

Testdata tables are read with the schema Parquet's footers declare, inferred
once per file version: ``spark.read.parquet`` without a schema runs a footer-
inference Spark job on every call, so :func:`read_testdata` memoizes each
file's inferred schema and hands it back on later reads. The memo key is the
file's identity (absolute path, ``st_dev``, ``st_ino``, ``st_size``,
``st_mtime_ns``) plus the session confs that change how Parquet types map to
Spark types (``_PARQUET_TYPE_CONFS``), so a rewritten file or a swapped
vintage is inferred afresh. Directories, globs and paths that fail
``os.stat`` are never memoized (a directory's stat does not change when a
file inside it is rewritten). The declared ``schemas.TESTDATA_TABLES`` cannot
serve as the read schema: the files disagree with them on every vintage
(``timestamp_ntz`` dates and event times where they declare ``timestamp``,
INT64-nanosecond ``events.ts`` on the adversarial vintage).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# ---------------------------------------------------------------------------
# readers
# ---------------------------------------------------------------------------

def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Parquet scan (S5-analog for the columnar era).

    Schema is optional — Parquet is self-describing — but when given it acts
    as an assertion: read fails loudly on drift instead of silently changing
    downstream plans.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with mandatory explicit schema (S5; reference pd.read_csv at
    google_maps_api.ipynb cell 2, pipeline .py:844,911,980)."""
    return spark.read.schema(schema).csv(path, header=header, **options)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    multiLine: bool = False,
    **options: str,
) -> DataFrame:
    """JSON scan with mandatory explicit schema (S3/S4/S6; reference
    pd.read_json at dexters_scraper.ipynb cell 36, LondonAir pulls)."""
    return spark.read.schema(schema).json(path, multiLine=multiLine, **options)


# session confs that change how Parquet physical types map to Spark types
_PARQUET_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a single file's schema once
    per file version and type-mapping confs, then reads with it (no
    footer-inference job). Directories, globs and unstat-able paths take the
    plain read every time."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode) or any(c in path for c in "*?[{\\"):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path), st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns,
        tuple(spark.conf.get(k) for k in _PARQUET_TYPE_CONFS),
    )
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = df.schema
    return df


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver testdata table with the schema its Parquet file
    declares.

    The schema is inferred on the first read of each file version and reused
    after that (``_read_parquet_memo``; key and fall-through cases in the
    module docstring). It is never the declared ``schemas.TESTDATA_TABLES``
    entry: the files carry ``timestamp_ntz`` where those declare
    ``timestamp``, and reading with them would change column types.

    ``events.parquet`` timestamps have shipped in two vintages: INT64
    nanoseconds (round-1 data — Spark's vectorized reader rejects NANOS as
    TimestampType, so it lands as long under the nanosAsLong legacy conf and
    is rebuilt at µs precision) and plain µs timestamps (current data —
    arrives as TIMESTAMP_NTZ, which matches DuckDB's naive-timestamp
    semantics exactly and is returned untouched). Consumers that need epoch
    arithmetic cast ``ts`` to TIMESTAMP locally (exact under the session's
    pinned UTC zone).
    """
    if table not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {table!r}")
    path = f"{sf_dir}/{table}.parquet"
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet_memo(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            from ..streaming.incremental import _ts_from_epoch_long

            df = df.withColumn("ts", _ts_from_epoch_long(F.col("ts")))
        return df
    return _read_parquet_memo(spark, path)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so ``spark.sql`` works
    (entry point 3.3 in SURVEY.md — the analog of the warehouse schema)."""
    for name in TESTDATA_TABLES:
        read_testdata(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------

def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink (S7-analog). ``mode='overwrite'`` reproduces the
    reference's drop-and-reload fact-table semantics (pipeline .py:59,72,99);
    ``partition_by`` is the pruning key (e.g. date for air_quality)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (S7: the reference's S3 staging put, pipeline .py:309-327)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (S8: dexters_scraper.ipynb cell 35 to_json)."""
    df.write.mode(mode).json(path)


# ---------------------------------------------------------------------------
# JDBC (S9-S11) — provided but not load-bearing (SURVEY §7.4): the serving
# store is Parquet + spark.sql. Kept thin so a Postgres deployment is a
# config change, not a code change.
# ---------------------------------------------------------------------------

def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC scan (S11; QT:51-95 PGWrapper). Partitioned read options matter at
    scale — a single-connection JDBC scan is the reference's bottleneck
    reborn."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """JDBC bulk sink (S10). Replaces the reference's per-row executemany
    INSERT loop (pipeline .py:870-885) with Spark's batched writer."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
