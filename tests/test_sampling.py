"""Sampling / packing / clustering operator semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineering_londonhousingmap_spark.operators.dedup import connected_components
from dataengineering_londonhousingmap_spark.operators.sampling import (
    hash_sample,
    mixture_sample,
    pack_sequences,
    stratified_hash_sample,
    train_test_split,
)


def test_hash_sample_partition_independent(spark):
    """The surviving set must not change with partitioning — the property
    df.sample() lacks and the reason this operator exists."""
    df = spark.range(5000).select(F.col("id"))
    a = {r.id for r in hash_sample(df, "id", 0.3).collect()}
    b = {r.id for r in hash_sample(df.repartition(17), "id", 0.3).collect()}
    assert a == b
    # rate lands near 30% (binomial tolerance)
    assert 0.25 < len(a) / 5000 < 0.35


def test_hash_sample_rate_monotone(spark):
    """Raising the rate only ADDS rows (same salt ⇒ nested thresholds) —
    the property that makes staged corpus scale-ups reproducible subsets
    of each other."""
    df = spark.range(3000).select(F.col("id"))
    s30 = {r.id for r in hash_sample(df, "id", 0.3).collect()}
    s60 = {r.id for r in hash_sample(df, "id", 0.6).collect()}
    assert s30 < s60


def test_stratified_rates(spark):
    df = spark.range(6000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("cls")
    )
    out = stratified_hash_sample(df, "id", "cls", rates={"0": 0.1, "1": 0.5})
    got = {r.cls: r.n for r in out.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    assert 100 < got["0"] < 300      # ~10% of 2000
    assert 800 < got["1"] < 1200     # ~50% of 2000
    assert got["2"] == 2000          # default rate 1.0 keeps all


def test_train_test_split_disjoint_exhaustive_stable(spark):
    df = spark.range(2000).select(F.col("id"))
    s1 = train_test_split(df, "id", test_rate=0.2)
    s2 = train_test_split(df.repartition(7), "id", test_rate=0.2)
    rows1 = {(r.id, r.split) for r in s1.collect()}
    rows2 = {(r.id, r.split) for r in s2.collect()}
    assert rows1 == rows2                       # reproducible
    assert len(rows1) == 2000                   # exhaustive, one split each
    n_test = sum(1 for _, s in rows1 if s == "test")
    assert 300 < n_test < 500                   # ~20%


def test_pack_sequences_contiguous_within_shard(spark):
    """Offsets must chain: each doc starts where the previous ended
    (mod budget) — the concat-and-chunk invariant."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7 + 1).cast("long").alias("toks")
    )
    out = pack_sequences(df, "id", "toks", budget=16, n_shards=4)
    rows = sorted(
        ((r.shard, r.id, r.pack_id, r.pack_offset, r.toks) for r in out.collect())
    )
    pos: dict[int, int] = {}
    for shard, _id, pack_id, off, toks in rows:
        start = pos.get(shard, 0)
        assert pack_id == start // 16
        assert off == start % 16
        pos[shard] = start + toks


def test_mixture_sample_hits_target_shares(spark):
    """2000 'big' + 500 'small' rows, target 50/50: small is the binding
    source (kept whole), big downsamples to ~500 — realized shares land on
    the target within hash tolerance, and unweighted sources vanish."""
    import pyspark.sql.functions as Fn

    df = spark.range(3000).select(
        Fn.col("id"),
        Fn.when(Fn.col("id") < 2000, "big")
        .when(Fn.col("id") < 2500, "small")
        .otherwise("junk")
        .alias("src"),
    )
    out, buckets = mixture_sample(df, "id", "src", {"big": 0.5, "small": 0.5})
    got = {r.src: r.n for r in out.groupBy("src").agg(Fn.count("*").alias("n")).collect()}
    assert "junk" not in got
    assert got["small"] == 500                   # binding source kept whole
    assert 420 < got["big"] < 580                # ~500 of 2000
    assert buckets["small"] == 10000


def test_mixture_sample_missing_source_raises(spark):
    import pyspark.sql.functions as Fn

    df = spark.range(10).select(Fn.col("id"), Fn.lit("a").alias("src"))
    try:
        mixture_sample(df, "id", "src", {"a": 0.5, "ghost": 0.5})
        raise AssertionError("expected ValueError for absent source")
    except ValueError:
        pass


def test_range_join_matches_theta_join(spark):
    """Bucketed range join must equal the naive theta join — including
    intervals spanning multiple buckets and points on bucket boundaries."""
    import pyspark.sql.functions as Fn

    from dataengineering_londonhousingmap_spark.operators.joins import range_join

    pts = spark.range(200).select(
        Fn.col("id").alias("pid"), (Fn.col("id") * 0.7).alias("v")
    )
    iv = spark.range(30).select(
        Fn.col("id").alias("iid"),
        (Fn.col("id") * 4.0).alias("lo"),
        (Fn.col("id") * 4.0 + 11.0).alias("hi"),  # spans >2 buckets at width 5
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(pts, iv, "v", "lo", "hi", bucket_width=5.0).collect()
    }
    want = {
        (r.pid, r.iid)
        for r in pts.crossJoin(iv)
        .filter((Fn.col("v") >= Fn.col("lo")) & (Fn.col("v") < Fn.col("hi")))
        .collect()
    }
    assert got == want and len(want) > 0


def test_hash_sample_is_narrow_no_shuffle(spark, sf_dir):
    """The sampling claim that matters at 100 TB: a hash sample is a plain
    filter — no Exchange in the plan, predicate evaluated at the scan."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_hash_sample(
        docs, "doc_id", "lang" if "lang" in docs.columns else "doc_id",
        rates={}, default_rate=0.5,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_global_sort_guard_refuses_large_inputs(spark):
    """zip_join / sessionize_by_marker single-partition-sort by semantics —
    they must refuse estimated-large inputs instead of silently
    serializing."""
    import pyspark.sql.functions as Fn
    import pytest

    from dataengineering_londonhousingmap_spark.operators.joins import zip_join

    small = spark.range(10).select(Fn.col("id"))
    big = spark.range(500_000_000).select(
        Fn.col("id"), Fn.lit("x" * 100).alias("pay")
    )
    with pytest.raises(ValueError, match="SINGLE task"):
        zip_join(big, small, ["id"], ["id"])
    # dimension-sized inputs pass the guard and join positionally
    assert zip_join(small, small, ["id"], ["id"]).count() == 10


def test_aqe_splits_skewed_join(spark):
    """The 100 TB skew story beyond salting: with AQE's skew-join enabled, a
    hot-key sort-merge join is split at runtime — the final adaptive plan
    carries SortMergeJoin(skew=true). Verifies the engine's claim that AQE
    (not manual tuning) absorbs moderate skew; salted_join remains the tool
    when AQE isn't enough. (The plan must be read from the SAME DataFrame
    instance that executed — a write action plans a fresh QueryExecution.)"""
    import pyspark.sql.functions as Fn

    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(400_000).select(
            Fn.when(Fn.col("id") % 10 < 9, 7)
            .otherwise(Fn.col("id") % 1000)
            .alias("k"),
            Fn.concat(Fn.lit("x" * 64), Fn.col("id").cast("string")).alias("pay"),
        )
        right = spark.range(1000).select(
            Fn.col("id").alias("k"), Fn.col("id").alias("rv")
        )
        j = left.join(right, "k").groupBy().count()
        assert j.collect()[0][0] == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed join"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_connected_components_transitive(spark):
    """(1-2), (2-3) chain plus an isolated vertex: one 3-cluster under the
    min id, singleton keeps itself."""
    verts = spark.createDataFrame([(1,), (2,), (3,), (9,)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(verts, edges, "doc_id").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (9, 9)}


def test_connected_components_long_chain_converges(spark):
    """A 300-node path graph: diameter 299 >> the 25-iteration bound, so
    ONLY the r08 pointer-doubling compression (O(log diameter) rounds)
    converges — plain min-propagation needs 299 rounds and raises. Reverting the compression
    step fails here by design."""
    n = 300
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = connected_components(verts, edges, "doc_id")
    assert {r.cluster_id for r in out.collect()} == {0}


def test_approx_sketches_within_error_of_exact(spark, sf_dir):
    """HLL++ distinct within 5% of exact; KLL p50/p90 inside the exact
    value range neighborhood — the bound that justifies the rows-only
    catalog entry."""
    import pyspark.sql.functions as Fn

    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    ev = read_testdata(spark, sf_dir, "events")
    got = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            Fn.approx_count_distinct("user_id", rsd=0.02).alias("a_users"),
            Fn.countDistinct("user_id").alias("e_users"),
            Fn.percentile_approx("value", 0.5, 10_000).alias("a_med"),
            Fn.expr("percentile(value, 0.5)").alias("e_med"),
        )
        .collect()
    }
    assert got
    for t, r in got.items():
        assert abs(r.a_users - r.e_users) <= max(2, 0.05 * r.e_users), t
        assert abs(r.a_med - r.e_med) <= max(0.5, 0.05 * abs(r.e_med)), t


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Runtime partition pruning: a partitioned fact joined to a FILTERED
    dim must scan only the dim-selected partitions — the plan carries a
    dynamicpruningexpression in PartitionFilters. At 100 TB this is the
    difference between scanning the partitions a dashboard filter selects
    and scanning the table."""
    import contextlib
    import io

    import pyspark.sql.functions as Fn

    d = str(tmp_path / "dpp_fact")
    ev = spark.range(50_000).select(
        (Fn.col("id") % 7).alias("k"),
        Fn.col("id").alias("v"),
        (Fn.col("id") % 5).cast("string").alias("part"),
    )
    ev.write.partitionBy("part").mode("overwrite").parquet(d)
    fact = spark.read.parquet(d)
    dim = spark.range(5).select(
        Fn.col("id").cast("string").alias("part"), (Fn.col("id") % 2).alias("flag")
    )
    j = fact.join(dim.filter(Fn.col("flag") == 1), "part")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    assert "dynamicpruning" in buf.getvalue().lower()
    assert j.count() > 0


def test_stratified_kfold_exact_balance(spark, sf_dir):
    """Every fold must get ⌈n_s/k⌉ or ⌊n_s/k⌋ rows of each stratum — the
    exact-balance property that distinguishes this from hash-mod splits."""
    from dataengineering_londonhousingmap_spark.operators.sampling import stratified_kfold
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    folds = stratified_kfold(docs, "doc_id", "lang", k=5)
    per = {
        (r.lang, r.fold): r.n
        for r in folds.groupBy("lang", "fold").agg(F.count("*").alias("n")).collect()
    }
    strata = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n_s in strata.items():
        sizes = [per.get((lang, f), 0) for f in range(5)]
        assert sum(sizes) == n_s
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)


def test_stratified_kfold_partition_independent(spark, sf_dir):
    """Fold assignment is a pure function of (id, stratum) — repartitioning
    must not move any row between folds."""
    from dataengineering_londonhousingmap_spark.operators.sampling import stratified_kfold
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    docs = read_testdata(spark, sf_dir, "documents")
    a = {(r.doc_id): r.fold for r in stratified_kfold(docs, "doc_id", "lang", 5).collect()}
    b = {
        (r.doc_id): r.fold
        for r in stratified_kfold(docs.repartition(13), "doc_id", "lang", 5).collect()
    }
    assert a == b


def test_null_stratum_and_weight_keys_fail_fast(spark):
    """A None key in rates/weights can never match (SQL equality is
    unknown on NULL) and crashed sorted() with an opaque TypeError — both
    operators must reject it with a clear error instead (r08 hardening,
    same NULL-key class as the r07 purge/upsert finds). NULL-stratum ROWS
    still take the default rate."""
    import pytest

    from dataengineering_londonhousingmap_spark.operators.sampling import (
        mixture_sample,
        stratified_hash_sample,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id long, s string"
    )
    with pytest.raises(ValueError, match="None"):
        stratified_hash_sample(df, "id", "s", {None: 0.5})
    with pytest.raises(ValueError, match="None"):
        mixture_sample(df, "id", "s", {None: 1.0})
    # NULL-stratum rows: default_rate=1.0 keeps them
    kept = stratified_hash_sample(df, "id", "s", {"a": 1.0}, default_rate=1.0)
    assert {r.id for r in kept.collect()} == {1, 2, 3}
