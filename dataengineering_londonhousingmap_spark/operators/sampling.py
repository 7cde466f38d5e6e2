"""Deterministic sampling + sequence packing for training-data pipelines.

Not in the reference (its only sampling is ``head(5)`` eyeballing); these
are the corpus-assembly operators a 100 TB pretraining pipeline needs:
class-balanced downsampling, reproducible train/test splits, and
concat-and-chunk sequence packing into fixed token budgets.

Everything is md5-hash-deterministic — NOT ``df.sample()``: Spark's sampler
is seed × partitioning dependent (a repartition changes the sample), which
is unacceptable for reproducible corpus builds and impossible to oracle.
A hash of the row's stable id is partition-independent, re-runnable,
engine-portable (md5 is bit-identical in DuckDB), and mergeable — two
pipeline runs sample the SAME rows, so incremental corpus refreshes don't
churn the training set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# hash granularity: rates are resolved in basis points (0.01%) so
# rate=0.1234 is exact
_BUCKETS = 10_000

# hash salts, one per operator family (the oracles hard-code the same strings)
_SAMPLE_SALT = "sample"
_SPLIT_SALT = "split"
_MIXTURE_SALT = "mixture"
_KFOLD_SALT = "kfold"


def _hash_bucket(id_col: Column, salt: str) -> Column:
    """Deterministic bucket in [0, 10000): int64 of the md5-hex prefix of
    (id || salt). Uniform, partition-independent, identical in any engine.
    SQL twin: CAST('0x' || substring(md5(CAST(id AS VARCHAR) || salt), 1, 8)
    AS BIGINT) % 10000."""
    h = F.conv(
        F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("long")
    return h % _BUCKETS


def hash_sample(df: DataFrame, id_col: str, rate: float) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by id hash. A pure
    narrow filter — no shuffle, pushes past column pruning, and the SAME
    rows survive at any partitioning or cluster size."""
    return df.filter(_hash_bucket(F.col(id_col), _SAMPLE_SALT) < int(rate * _BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the class-rebalance operator
    (downsample the over-represented language/source/domain, keep the rest).
    ``rates`` maps stratum value → keep fraction. Still a narrow filter:
    the rate lookup is a CASE expression, never a join or shuffle.

    A ``None`` key is rejected up front: SQL equality never matches NULL,
    so a NULL-keyed rate could only ever silently apply ``default_rate``
    (and ``sorted()`` over mixed None/str crashes) — callers wanting a
    NULL-stratum rate must handle it explicitly (fillna/isNull filter).
    NULL-stratum ROWS are fine: they take ``default_rate``."""
    if any(k is None for k in rates):
        raise ValueError(
            "rates key None can never match a stratum (SQL equality is "
            "unknown on NULL) — coalesce the stratum column or filter "
            "isNull explicitly"
        )
    rate_expr: Column = F.lit(int(default_rate * _BUCKETS))
    for value, rate in sorted(rates.items()):
        rate_expr = F.when(
            F.col(strata_col) == value, F.lit(int(rate * _BUCKETS))
        ).otherwise(rate_expr)
    return df.filter(_hash_bucket(F.col(id_col), _SAMPLE_SALT) < rate_expr)


def train_test_split(df: DataFrame, id_col: str, test_rate: float = 0.1) -> DataFrame:
    """Reproducible split column ('train' | 'test') by id hash. Disjoint and
    exhaustive by construction; a row keeps its split across re-runs and
    incremental refreshes — the property random splits lose the moment the
    corpus changes under them."""
    return df.withColumn(
        "split",
        F.when(
            _hash_bucket(F.col(id_col), _SPLIT_SALT) < int(test_rate * _BUCKETS), "test"
        ).otherwise("train"),
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict[str, float],
) -> tuple[DataFrame, dict[str, int]]:
    """Target-mixture downsampling: keep the LARGEST corpus whose source
    shares match ``weights`` (the de-facto corpus-mixing step before
    pretraining — e.g. cap English at 40% without discarding a single row
    of the binding low-resource source).

    Math: T = min over sources of N_s / w_s is the largest total honoring
    every share with what exists; source s keeps w_s·T rows via a hash
    rate. Sources absent from ``weights`` are dropped.

    Two passes: a per-source count aggregate whose k-row result is
    collected (k = |sources|, the same only-tiny-things-reach-the-driver
    rule as IVF centroids), then ONE narrow hash filter — no shuffle of
    the data itself at any corpus size. Returns (sampled df, the bucket
    thresholds used) so callers can log/audit the realized rates.
    """
    if any(k is None for k in weights):
        raise ValueError(
            "weights key None can never match a source (SQL equality is "
            "unknown on NULL) — coalesce the source column first"
        )
    counts = {
        r[source_col]: r["n"]
        for r in df.groupBy(source_col).agg(F.count("*").alias("n")).collect()
        if r[source_col] in weights
    }
    missing = set(weights) - set(counts)
    if missing:
        raise ValueError(f"weighted sources absent from data: {sorted(missing)}")
    t = min(counts[s] / w for s, w in weights.items())
    buckets = {s: int(weights[s] * t / counts[s] * _BUCKETS) for s in counts}
    thresh: Column = F.lit(-1)  # unweighted sources match nothing
    for s in sorted(buckets):
        thresh = F.when(F.col(source_col) == s, F.lit(buckets[s])).otherwise(thresh)
    return (
        df.filter(_hash_bucket(F.col(id_col), _MIXTURE_SALT) < thresh),
        buckets,
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    n_shards: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end in
    deterministic id order and cut every ``budget`` tokens (the GPT-style
    pretraining pack); each document is assigned the pack where its first
    token lands, at ``pack_offset`` within it.

    Scale shape: one window cumsum per SHARD (id mod ``n_shards``), never a
    global single-partition sort — shards pack independently, which is how
    a real corpus build parallelizes anyway (pack ids are (shard, pack_id)
    pairs). Pure integer window arithmetic in codegen; no UDF, no shuffle
    beyond the one window partitioning.
    """
    shard = (F.col(id_col) % n_shards).alias("shard")
    # token_count tiebreak: ids are expected unique, but if a vintage ever
    # carries duplicates the output MULTISET stays deterministic — rows
    # identical in (id, count) are interchangeable, rows differing in count
    # are fully ordered. Matches the SQL twin's ORDER BY exactly.
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc(), F.col(token_count_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(token_count_col).over(w) - F.col(token_count_col)).alias("__start")
    out = df.select(F.col(id_col), F.col(token_count_col), shard).select(
        "*", start
    )
    return out.select(
        F.col(id_col),
        "shard",
        # integer division (div), not floor(double /): exact at any
        # magnitude and identical to the SQL twin's `//`
        F.expr(f"__start div {budget}").alias("pack_id"),
        (F.col("__start") % budget).alias("pack_offset"),
        F.col(token_count_col),
    )


def stratified_kfold(df: DataFrame, id_col: str, strata_col: str, k: int) -> DataFrame:
    """Exactly-balanced stratified k-fold assignment: within each stratum,
    rows are ordered by md5(id || 'kfold') and dealt round-robin into folds —
    every fold gets ⌈n_s/k⌉ or ⌊n_s/k⌋ rows of stratum s (hash-mod
    sampling is only balanced in expectation; CV wants exact balance).

    Scale shape: the same two-level trick as the global corpus shuffle —
    rank within (stratum, 256 md5-prefix shards) partitioned windows plus
    broadcast per-shard offsets, never a single-partition-per-stratum
    window. Because the shard is a PREFIX of the sort key, shard-local
    rank + offset equals the stratum-global hash rank, so a plain
    row_number-per-stratum is an exact SQL twin.
    """
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(_KFOLD_SALT)))
    sharded = df.select(
        F.col(id_col),
        F.col(strata_col),
        key.alias("__k"),
        F.conv(F.substring(key, 1, 2), 16, 10).cast("int").alias("__shard"),
    )
    w = Window.partitionBy(strata_col, "__shard").orderBy("__k", id_col)
    pos = sharded.select(
        id_col, strata_col, "__shard", F.row_number().over(w).alias("__pos")
    )
    counts = sharded.groupBy(strata_col, "__shard").agg(F.count("*").alias("__n"))
    woff = (
        Window.partitionBy(strata_col)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        strata_col,
        "__shard",
        F.coalesce(F.sum("__n").over(woff), F.lit(0)).alias("__off"),
    )
    return pos.join(F.broadcast(offsets), [strata_col, "__shard"]).select(
        F.col(id_col),
        F.col(strata_col),
        ((F.col("__off") + F.col("__pos") - 1) % k).cast("int").alias("fold"),
    )
