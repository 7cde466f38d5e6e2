"""Small-files compaction, targeted purge, and layout-clustering semantics."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from dataengineering_londonhousingmap_spark.operators.layout import morton_key, zorder_write
from dataengineering_londonhousingmap_spark.operators.maintenance import (
    compact,
    dir_bytes,
    purge_keys,
)


def test_compact_collapses_small_files(spark, tmp_path):
    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    # 40 tiny files (the accreted micro-batch shape)
    spark.range(4000).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id").cast("string")).alias("s")
    ).repartition(40).write.mode("overwrite").parquet(src)
    n_src = len(glob.glob(f"{src}/*.parquet"))
    assert n_src == 40

    n_target = compact(spark, src, dst, target_file_mb=64)
    n_dst = len(glob.glob(f"{dst}/*.parquet"))
    assert n_target == 1 and n_dst == 1          # tiny table → one file

    # content identical
    a = {(r.id, r.s) for r in spark.read.parquet(src).collect()}
    b = {(r.id, r.s) for r in spark.read.parquet(dst).collect()}
    assert a == b
    assert dir_bytes(spark, dst) > 0


def _part_df(spark):
    rows = [(i, "A" if i < 10 else ("B" if i < 20 else "C"), float(i)) for i in range(30)]
    return spark.createDataFrame(rows, "k long, part string, v double")


def test_purge_rewrites_only_affected_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    _part_df(spark).write.partitionBy("part").parquet(path)
    untouched = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/part=C/*.parquet")}
    assert untouched

    affected = purge_keys(spark, path, [0, 1, 2, 15], "k", "part")
    assert sorted(affected) == ["A", "B"]
    # partition C's files were never rewritten
    assert untouched == {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/part=C/*.parquet")
    }
    survivors = {r.k for r in spark.read.parquet(path).collect()}
    assert survivors == set(range(30)) - {0, 1, 2, 15}


def test_purge_drops_fully_purged_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    _part_df(spark).write.partitionBy("part").parquet(path)

    affected = purge_keys(spark, path, list(range(10)), "k", "part")  # all of A
    assert affected == ["A"]
    assert not glob.glob(f"{path}/part=A/*.parquet")  # dir gone, not stale files
    survivors = {r.k for r in spark.read.parquet(path).collect()}
    assert survivors == set(range(10, 30))


def test_purge_accepts_dataframe_keys_and_noops_on_miss(spark, tmp_path):
    path = str(tmp_path / "t")
    _part_df(spark).write.partitionBy("part").parquet(path)
    keys = spark.createDataFrame([(5,), (25,)], "k long")
    assert sorted(purge_keys(spark, path, keys, "k", "part")) == ["A", "C"]
    assert {r.k for r in spark.read.parquet(path).collect()} == set(range(30)) - {5, 25}
    # no matching keys -> nothing rewritten at all
    assert purge_keys(spark, path, [999], "k", "part") == []


def test_purge_null_key_rows_survive_on_both_key_paths(spark, tmp_path):
    """NULL-key rows must SURVIVE a purge identically whether the purge set
    arrives as a Python list (isin) or a DataFrame (anti-join): a bare
    ~isin() is NULL on NULL keys and silently deleted the anonymous rows
    while the anti-join kept them — a deletion operator whose survivors
    depend on the key-list representation (round-7 audit finding)."""
    rows = [(1, "A", 1.0), (2, "A", 2.0), (None, "A", 3.0), (10, "B", 4.0)]

    for mode in ("list", "df"):
        path = str(tmp_path / f"t_{mode}")
        spark.createDataFrame(rows, "k long, part string, v double").write.partitionBy(
            "part"
        ).parquet(path)
        keys = [1] if mode == "list" else spark.createDataFrame([(1,)], "k long")
        assert purge_keys(spark, path, keys, "k", "part") == ["A"]
        survivors = {r.k for r in spark.read.parquet(path).collect()}
        assert survivors == {2, None, 10}, f"{mode} path lost the NULL-key row"


def test_purge_reaches_null_partition_targets(spark, tmp_path):
    """Purge targets living in a NULL partition (__HIVE_DEFAULT_PARTITION__)
    must actually be deleted: isin() over the affected-partition list never
    matches NULL, so pre-fix the scoping filter skipped them and the purge
    silently did NOTHING — the worst failure for a right-to-be-forgotten
    job. Also pins the fully-purged NULL partition's on-disk dir drop
    (Hive spells it __HIVE_DEFAULT_PARTITION__, not '=None')."""
    import glob as _glob

    path = str(tmp_path / "t_nullpart")
    spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "B", 3.0)],
        "k long, part string, v double",
    ).write.partitionBy("part").parquet(path)

    affected = purge_keys(spark, path, [1], "k", "part")
    assert affected == [None]
    got = {(r.k, r.part) for r in spark.read.parquet(path).collect()}
    assert got == {(2, None), (3, "B")}, got

    # purge the rest of the NULL partition → its dir must be dropped
    purge_keys(spark, path, [2], "k", "part")
    assert not _glob.glob(f"{path}/part=__HIVE_DEFAULT_PARTITION__/*")
    assert {r.k for r in spark.read.parquet(path).collect()} == {3}


def _interleave16(a: int, b: int) -> int:
    z = 0
    for i in range(16):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_morton_key_matches_bitwise_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (1023, 1), (65535, 65535), (40000, 123)]
    df = spark.createDataFrame(rows, "a long, b long").withColumn(
        "z", morton_key(F.col("a"), F.col("b"))
    )
    for r in df.collect():
        assert r.z == _interleave16(r.a, r.b), (r.a, r.b)


def test_zorder_layout_prunes_files(spark, tmp_path):
    # 64x64 grid of (a, b) points, one row each
    grid = spark.range(4096).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    flat, zed = str(tmp_path / "flat"), str(tmp_path / "zed")
    # baseline: hash-scattered layout, same file count
    grid.repartition(16).write.mode("overwrite").parquet(flat)
    zorder_write(grid, zed, "a", "b")

    def files_with_matches(path):
        n = 0
        for f in glob.glob(f"{path}/*.parquet"):
            hit = (
                spark.read.parquet(f)
                .filter((F.col("a") < 8) & (F.col("b") < 8))
                .count()
            )
            n += 1 if hit else 0
        return n

    n_flat = files_with_matches(flat)
    n_zed = files_with_matches(zed)
    # the 8x8 box is 1/64 of the key space: a clustered layout confines it
    # to ~1 file; a scattered layout hits (essentially) all of them
    assert n_zed <= 2 < n_flat
    # content preserved
    assert spark.read.parquet(zed).count() == 4096


def test_compaction_plan_bin_packing(spark):
    """Groups cut every target_rows by first-row rule: group boundaries
    are monotone in file order and no group's START row is past its cut."""
    from dataengineering_londonhousingmap_spark.operators.maintenance import compaction_plan

    manifest = spark.createDataFrame(
        [("a", 100), ("b", 900), ("c", 600), ("d", 600), ("e", 10)],
        ["file", "n_rows"],
    )
    plan = {r.file: r.out_group for r in compaction_plan(manifest, 1000).collect()}
    # starts: a=0, b=100, c=1000, d=1600, e=2200 → groups 0,0,1,1,2
    assert plan == {"a": 0, "b": 0, "c": 1, "d": 1, "e": 2}


def test_hive_partition_dirname_matches_jvm(spark):
    """Parity pin: the pure-Python escape must reproduce Spark's own
    ExternalCatalogUtils byte-for-byte for every class it handles — the
    dir-drop paths (purge_keys, upsert sink) build deletion targets with
    it, and a divergence means stale files silently survive."""
    from dataengineering_londonhousingmap_spark.operators.util import hive_partition_dirname

    ecu = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    cases = [
        "plain", "a/b", "x=y", "50%", "a:b", "q?r", 's"t', "p'q", "l*m",
        "back\\slash", "h#i", "br{ack[et]s^", "tab\there", "nl\nhere",
        "cr\rhere", "del\x7fchar", "ünïcødé-🎈", "dots..", "sp ace",
        "2024-01-01 10:00:00", "-42", "1e6",
    ]
    for v in cases:
        assert hive_partition_dirname(v) == ecu.escapePathName(v), v
    # NULL and empty string land in the Hive default partition
    assert hive_partition_dirname(None) == "__HIVE_DEFAULT_PARTITION__"
    assert hive_partition_dirname("") == "__HIVE_DEFAULT_PARTITION__"
    assert ecu.getPartitionValueString("") == "__HIVE_DEFAULT_PARTITION__"


def test_purge_drops_fully_purged_partition_with_escaped_chars(spark, tmp_path):
    """A fully-purged partition whose VALUE carries Hive-escaped chars
    ('=', '/', ':') must have its on-disk dir dropped: building the path
    with str(part) targets a nonexistent dir and the stale files silently
    survive — the same gap the round-7 NULL fix closed for None (round-8
    advisor). Read-back proves the stale rows are actually gone."""
    path = str(tmp_path / "t_escaped")
    spark.createDataFrame(
        [(1, "a=b/c:d", 1.0), (2, "a=b/c:d", 2.0), (3, "plain", 3.0)],
        "k long, part string, v double",
    ).write.partitionBy("part").parquet(path)
    # Spark wrote the escaped dir — precondition for the test to mean anything
    assert glob.glob(f"{path}/part=a%3Db%2Fc%3Ad/*.parquet")

    affected = purge_keys(spark, path, [1, 2], "k", "part")
    assert affected == ["a=b/c:d"]
    assert not glob.glob(f"{path}/part=a%3Db%2Fc%3Ad/*"), "stale dir survived"
    assert {r.k for r in spark.read.parquet(path).collect()} == {3}
