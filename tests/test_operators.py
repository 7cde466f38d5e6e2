"""Operator-level tests: NN-join equivalence (gridded == exact), dedup
survivor rules, LSH recall on a known near-dup pair, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineering_londonhousingmap_spark.operators.dedup import (
    char_shingles,
    dedup_by_fingerprint,
    dedup_first_seen,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from dataengineering_londonhousingmap_spark.operators.joins import nearest_join, nearest_join_gridded
from dataengineering_londonhousingmap_spark.operators.multimodal import (
    decode_image,
    extract_features,
    frame_sample_plan,
    synthesize_media,
)
from dataengineering_londonhousingmap_spark.operators.similarity import ann_topk_bruteforce, ann_topk_lsh
from dataengineering_londonhousingmap_spark.operators.udfs import parse_listing_pages


def test_gridded_nn_equals_exact(spark):
    """The grid prefilter + provable-radius escalation must reproduce the
    exact cross-join result on clustered AND isolated points."""
    left = spark.createDataFrame(
        [(i, float(i % 13) * 0.37, float((i * 7) % 11) * 0.53) for i in range(200)]
        + [(900, 50.0, 50.0)],  # isolated point, far from every right row
        "id long, latitude double, longitude double",
    )
    right = spark.createDataFrame(
        [(j, float(j % 5) * 0.9, float((j * 3) % 7) * 0.8) for j in range(20)],
        "rid long, r_latitude double, r_longitude double",
    )
    exact = nearest_join(
        left,
        right,
        lambda l, r: F.abs(l["latitude"] - r["r_latitude"]) + F.abs(l["longitude"] - r["r_longitude"]),
        "id",
        tiebreak=["rid"],
    ).select("id", "rid", F.round("__dist", 9).alias("d"))
    grid = nearest_join_gridded(
        left, right, left_key="id", cell_deg=0.5, tiebreak=["rid"]
    ).select("id", "rid", F.round("__dist", 9).alias("d"))
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, grid.collect()))


def test_gridded_nn_dedup_equals_legacy_on_stacked_coords(spark):
    """Hot-cell hardening must be invisible in the results: a left side
    with deep identical-coordinate stacks (the replicated-vintage / city-
    center shape) returns exactly the legacy per-row answer, winner ties
    included. 400 rows stack onto 8 distinct coordinates; the right side
    stacks too (duplicate coordinates with different ids) so the per-
    coordinate representative reduction is exercised, not just passed
    through."""
    left = spark.createDataFrame(
        [(i, float(i % 8), float((i * 3) % 8)) for i in range(400)],
        "id long, latitude double, longitude double",
    )
    right = spark.createDataFrame(
        [(j, float(j % 4) * 2.0, float((j * 5) % 4) * 2.0) for j in range(40)],
        "rid long, r_latitude double, r_longitude double",
    )
    kw = dict(left_key="id", cell_deg=1.0, tiebreak=["rid"])
    legacy = nearest_join_gridded(left, right, dedup_coords=False, **kw).select(
        "id", "rid", F.round("__dist", 9).alias("d")
    )
    hardened = nearest_join_gridded(left, right, dedup_coords=True, **kw).select(
        "id", "rid", F.round("__dist", 9).alias("d")
    )
    assert sorted(map(tuple, legacy.collect())) == sorted(map(tuple, hardened.collect()))


def test_nearest_join_metric_dedup_equals_direct(spark):
    """left_metric_cols declares that the distance reads the left side only
    through those columns — the dedup shell (distinct metric tuples →
    winner per tuple → null-safe fan-out) must return exactly the direct
    path's rows for both k=1 and k=3, on input with deep duplicate-metric
    stacks and a NULL metric row."""
    left = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(300)] + [(900, None)],
        "id long, bal double",
    )
    right = spark.createDataFrame(
        [(j, float(j) * 1.7) for j in range(11)], "rid long, r_bal double"
    )
    dist = lambda l, r: F.abs(l["bal"] - r["r_bal"])  # noqa: E731
    for k in (1, 3):
        direct = nearest_join(
            left, right, dist, "id", tiebreak=["rid"], k=k
        ).select("id", "rid", F.round("__dist", 9).alias("d"))
        shelled = nearest_join(
            left, right, dist, "id", tiebreak=["rid"], k=k,
            left_metric_cols=["bal"],
        ).select("id", "rid", F.round("__dist", 9).alias("d"))
        assert sorted(map(tuple, direct.collect())) == sorted(
            map(tuple, shelled.collect())
        ), f"k={k}"


def test_nearest_join_right_metric_dedup(spark):
    """Right-side metric reduction exactness: k=1 keeps one min-struct
    representative per distinct metric value (tiebreak decides among
    equal-distance twins); k>1 keeps each tuple's k smallest rows under
    the tiebreak ordering (metric twins ARE distinct top-k entries — with
    6 rows stacked on 2 values, a top-3 must contain same-value twins).
    Both must equal the direct path row-for-row. k>1 without a total-
    order tiebreak raises."""
    import pytest as _pytest

    left = spark.createDataFrame(
        [(i, float(i % 4)) for i in range(40)], "id long, bal double"
    )
    # rows 0..5 stacked on 2 distinct metric values (twins differ by rid)
    right = spark.createDataFrame(
        [(j, float(j % 2) * 2.0) for j in range(6)], "rid long, r_bal double"
    )
    dist = lambda l, r: F.abs(l["bal"] - r["r_bal"])  # noqa: E731
    for k in (1, 3):
        direct = nearest_join(
            left, right, dist, "id", tiebreak=["rid"], k=k
        ).select("id", "rid", F.round("__dist", 9).alias("d"))
        reduced = nearest_join(
            left, right, dist, "id", tiebreak=["rid"], k=k,
            left_metric_cols=["bal"], right_metric_cols=["r_bal"],
        ).select("id", "rid", F.round("__dist", 9).alias("d"))
        assert sorted(map(tuple, direct.collect())) == sorted(
            map(tuple, reduced.collect())
        ), f"k={k}"
    with _pytest.raises(ValueError, match="tiebreak"):
        nearest_join(
            left, right, dist, "id", k=3, right_metric_cols=["r_bal"]
        )


def test_gridded_nn_null_coords_get_exact_winner(spark):
    """NULL-coordinate left rows can never grid-match (NULL cell ids join
    to nothing) — they must escalate to the exact path and still come back
    through the null-safe fan-out join, one output row each."""
    left = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, None, 0.5), (3, None, None)],
        "id long, latitude double, longitude double",
    )
    right = spark.createDataFrame(
        [(7, 0.4, 0.4), (8, 9.0, 9.0)],
        "rid long, r_latitude double, r_longitude double",
    )
    out = nearest_join_gridded(
        left, right, left_key="id", cell_deg=1.0, tiebreak=["rid"]
    ).collect()
    by_id = {r.id: r for r in out}
    assert set(by_id) == {1, 2, 3}
    assert by_id[1].rid == 7  # provable grid winner
    # NULL-distance candidates: winner falls through to the tiebreak —
    # deterministic, and identical to the legacy path's behavior
    legacy = {
        r.id: r.rid
        for r in nearest_join_gridded(
            left, right, left_key="id", cell_deg=1.0, tiebreak=["rid"],
            dedup_coords=False,
        ).collect()
    }
    assert {r.id: r.rid for r in out} == legacy


def test_dedup_survivor_rules(spark):
    df = spark.createDataFrame(
        [(1, "b", "x"), (2, "a", "x"), (3, "c", "y")], "id long, ord string, key string"
    )
    first = dedup_first_seen(df, "key", ["ord"]).collect()
    assert {r.id for r in first} == {2, 3}  # 'a' < 'b' wins for key x

    docs = spark.createDataFrame(
        [(10, "Hello  World"), (11, "hello world"), (12, "other text")],
        "doc_id long, text string",
    )
    # fingerprint normalizes case+whitespace → 10 and 11 collide, min id wins
    kept = {r.doc_id for r in dedup_by_fingerprint(docs, "doc_id", "text").collect()}
    assert kept == {10, 12}


def test_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    docs = spark.createDataFrame(
        [(1, base), (2, base + "!"), (3, "completely different content about spark engines")],
        "doc_id long, text string",
    )
    sh = char_shingles(docs, "doc_id", "text", w=8)
    sig = minhash_signatures(sh, "doc_id")
    cand = lsh_candidate_pairs(sig, "doc_id")
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1, 2) in pairs  # one-char suffix diff shares almost all shingles

    verified = ngram_jaccard_pairs(sh, "doc_id", threshold=0.5, candidates=cand)
    out = verified.collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    assert out[0].jaccard > 0.8


def test_simhash_near_dup_small_hamming(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "totally unrelated words here now")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text", bits=32).collect()}
    ham12 = bin(fp[1] ^ fp[2]).count("1")
    ham13 = bin(fp[1] ^ fp[3]).count("1")
    assert ham12 < ham13


def test_simhash64_halves_and_hamming(spark):
    from dataengineering_londonhousingmap_spark.operators.dedup import simhash64

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "totally unrelated words here now")],
        "doc_id long, text string",
    )
    fp64 = {
        r.doc_id: (r.simhash_lo, r.simhash_hi)
        for r in simhash64(docs, "doc_id", "text").collect()
    }
    # the lo half IS the 32-bit construction (hex chars 1-8), verbatim
    fp32 = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text", bits=32).collect()}
    for d in (1, 2, 3):
        assert fp64[d][0] == fp32[d]
        # both halves stay in positive signed-64 range (DuckDB parity)
        assert 0 <= fp64[d][0] < 2**32 and 0 <= fp64[d][1] < 2**32

    def ham(a, b):
        return (bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1"))

    assert ham(fp64[1], fp64[2]) < ham(fp64[1], fp64[3])


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = ann_topk_bruteforce(emb, queries, k=5)
    approx = ann_topk_lsh(emb, queries)
    e = {(r.query_id, r.match_id) for r in exact.collect()}
    a = {(r.query_id, r.match_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"multiprobe LSH recall suspiciously low: {recall}"


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame([(1, "seed one"), (2, "seed two"), (3, "v")], "doc_id long, text string")
    assets = synthesize_media(docs, "doc_id", "text")
    feats = {r.asset_id: r for r in extract_features(assets).collect()}
    assert all(feats[i].n_bytes == 128 for i in (1, 2, 3))
    assert len(feats[1].byte_histogram) == 8 and sum(feats[1].byte_histogram) == 128
    assert feats[1].content_md5 != feats[2].content_md5

    frames = frame_sample_plan(assets, every_ms=10000)
    vid = assets.filter("media_type = 'video'").select("asset_id", "duration_ms").collect()
    got = frames.groupBy("asset_id").count().collect()
    expect = {r.asset_id: max(r.duration_ms - 1, 0) // 10000 + 1 for r in vid}
    assert {r.asset_id: r["count"] for r in got} == expect

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image(b"\x00" * 4)
    assert decode_image(b"\x01\x02\x03\x04", fake=True) == [[1, 2], [3, 4]]


def test_resize_images_nearest_neighbour_gather(spark):
    from dataengineering_londonhousingmap_spark.operators.multimodal import resize_images

    # payload = bytes 0..127 as an 8×16 matrix: value at (r, c) = 16r + c.
    # 4×4 nearest-neighbour → rows {0,2,4,6}, cols {0,4,8,12}; mean of the
    # 16 sampled values = mean(16r) + mean(4c) for those index sets = 54.0
    payload = bytes(range(128))
    assets = spark.createDataFrame(
        [(1, payload), (2, None)], "asset_id long, payload binary"
    )
    got = {r.asset_id: r for r in resize_images(assets).collect()}
    assert got[1].resized_mean == 54.0
    assert (got[1].out_w, got[1].out_h) == (4, 4)
    # NULL payload zero-fills rather than erroring (dirty-corpus reality)
    assert got[2].resized_mean == 0.0


def test_mapinpandas_page_parser(spark):
    pages = spark.createDataFrame(
        [("1|£100,000|E1\n2|£200,000|E2",), ("3|£300,000|E3",)], "html string"
    )
    ads = parse_listing_pages(pages).collect()
    assert {r.ad_id for r in ads} == {"1", "2", "3"}
    assert {r.price_raw for r in ads} == {"£100,000", "£200,000", "£300,000"}


def test_asof_join_semantics(spark):
    from dataengineering_londonhousingmap_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1),  # after r@09, before r@11 → 09
            (2, "2024-01-01 11:00:00", 1),  # equal ts → inclusive match
            (3, "2024-01-01 08:00:00", 1),  # before any right row → NULL
            (4, "2024-01-01 12:00:00", 2),  # key with no right rows → NULL
        ],
        "id long, ts string, k long",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"), "k")
    right = spark.createDataFrame(
        [
            ("2024-01-01 09:00:00", 1, "a"),
            ("2024-01-01 11:00:00", 1, "b"),
        ],
        "rts string, k long, v string",
    ).select(F.col("rts").cast("timestamp").alias("rts"), "k", "v")

    out = asof_join(left, right, key="k", left_ts="ts", right_ts="rts")
    rows = {r.id: (str(r.asof_rts), r.v) for r in out.collect()}
    assert rows[1] == ("2024-01-01 09:00:00", "a")
    assert rows[2] == ("2024-01-01 11:00:00", "b")
    assert rows[3] == ("None", None)
    assert rows[4] == ("None", None)
    assert out.count() == 4  # left-outer: every left row exactly once


def test_asof_join_null_key_and_null_ts_match_nothing(spark):
    """SQL equi semantics on NULLs (probed r07 against DuckDB ASOF): a
    NULL key must never match — without the up-front right-side filter
    the union's window partition groups NULL-key LEFT rows with NULL-key
    RIGHT rows and hands them a payload no SQL ASOF join would. NULL
    left ts also matches nothing (ts >= rts unknown), unlike DuckDB's
    NULLS-LAST ordering convention which matches the latest right row.
    A NULL RIGHT ts must also match nothing (r08 advisor find): its
    payload struct is non-NULL and NULLS-FIRST ordering sorts it before
    every row in its key partition, so without the up-front filter
    last(ignorenulls) hands it to left rows that have NO real prior
    match — id=4 below is exactly that shape."""
    from dataengineering_londonhousingmap_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-02 00:00:00", None),  # NULL key → no match
            (2, "2024-01-02 00:00:00", 1),  # normal match
            (3, None, 1),  # NULL ts → no match
            (4, "2023-12-31 00:00:00", 1),  # before any REAL right row → NULL,
            # not the NULL-rts row's payload
        ],
        "id long, ts string, k long",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"), "k")
    right = spark.createDataFrame(
        [
            (None, "2024-01-01 00:00:00", "nullkey"),
            (1, "2024-01-01 00:00:00", "a"),
            (1, None, "nullts"),  # NULL rts → matches nothing
        ],
        "k long, rts string, v string",
    ).select("k", F.col("rts").cast("timestamp").alias("rts"), "v")

    out = asof_join(left, right, key="k", left_ts="ts", right_ts="rts")
    rows = {r.id: r.v for r in out.collect()}
    assert rows == {1: None, 2: "a", 3: None, 4: None}
    assert out.count() == 4  # left-outer preserved for NULL-key rows


def test_embedding_near_dup_candidate_path_is_subset(spark, sf_dir):
    from dataengineering_londonhousingmap_spark.operators.similarity import (
        embedding_near_dup,
        lsh_near_dup_candidates,
    )
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b) for r in embedding_near_dup(emb, threshold=0.42).collect()
    }
    cand = lsh_near_dup_candidates(emb, num_tables=8, planes_per_table=4, dim=64)
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(emb, threshold=0.42, candidates=cand).collect()
    }
    assert exact, "threshold produced no pairs — test data drifted"
    assert approx <= exact  # candidates only ever prefilter
    assert len(approx) / len(exact) >= 0.4, "LSH near-dup recall suspiciously low"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    from dataengineering_londonhousingmap_spark.operators.similarity import ann_topk_ivf
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = ann_topk_bruteforce(emb, queries, k=5)
    approx = ann_topk_ivf(emb, queries, k=5, n_centroids=16, n_probe=4)
    e = {(r.query_id, r.match_id) for r in exact.collect()}
    a = {(r.query_id, r.match_id) for r in approx.collect()}
    assert len(a) == len(e)  # always returns a full top-k
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"IVF recall suspiciously low: {recall}"


def test_salted_join_equals_plain(spark, sf_dir):
    from dataengineering_londonhousingmap_spark.operators.joins import salted_join
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    li = read_testdata(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    supp = read_testdata(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    plain = li.join(supp, "l_suppkey").groupBy("s_name").count()
    salted = salted_join(li, supp, key="l_suppkey", salt=4).groupBy("s_name").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """With broadcast disabled, the bucketed+sorted layout must sort-merge
    join with NO exchange and NO sort — the co-located 100TB plan."""
    import io, contextlib

    from dataengineering_londonhousingmap_spark.queries import QUERIES

    import os
    import re

    QUERIES["q_join_bucketed"](spark, sf_dir)  # (re)writes the bucketed tables
    tag = re.sub(r"[^A-Za-z0-9]", "_", os.path.basename(sf_dir.rstrip("/")))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bl, bo = spark.table(f"b_lineitem_{tag}"), spark.table(f"b_orders_{tag}")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        join_pos = plan.find("SortMergeJoin")
        assert join_pos > 0, plan
        head = plan[:join_pos]
        assert "Exchange" not in head, plan
        assert "(4) Sort" not in head and "(2) Sort" not in head
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partitioned_sink_prunes_partitions(spark, sf_dir):
    import io, contextlib

    from dataengineering_londonhousingmap_spark.queries import QUERIES

    df = QUERIES["q_sink_partitioned"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan


def test_no_rowwise_python_or_accidental_cartesian(spark, sf_dir):
    """Engine-wide plan invariants: no row-at-a-time Python UDFs anywhere
    (BatchEvalPython — only Arrow paths allowed), and no cartesian product
    outside the operators that intentionally broadcast-cross (NN join,
    brute-force ANN, near-dup baseline)."""
    import io, contextlib

    from dataengineering_londonhousingmap_spark.queries import QUERIES

    CROSS_OK = {
        "q_join_nn", "q_join_nn_gridded", "q_embed_topk",
        "q_dedup_embed_exact", "q_embed_ann_ivf", "q_argmin",
    }
    STREAMING = {"q_stream_hourly", "q_stream_dedup", "q_stream_sessions"}
    offenders = []
    for name, fn in QUERIES.items():
        if name in STREAMING:  # memory-sink results, plan already executed
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if "BatchEvalPython" in plan:
            offenders.append((name, "row-wise PythonUDF"))
        if "CartesianProduct" in plan and name not in CROSS_OK:
            offenders.append((name, "unexpected CartesianProduct"))
    assert not offenders, offenders


def test_round2c_plan_shapes(spark, sf_dir):
    """Scale-shape assertions for the round-2c operators: winsorize clamps
    via a BROADCAST join of the tiny percentile side (no fact shuffle for
    the clamp); the deterministic corpus shuffle never range-partitions
    (= no global sort of the data — the shard windows sort within hash
    partitions); char diversity aggregates partial+final JVM-side."""
    import contextlib
    import io

    from dataengineering_londonhousingmap_spark.queries import QUERIES

    def plan_of(name: str) -> str:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p = plan_of("q_winsorize")
    assert "BroadcastHashJoin" in p, p
    p = plan_of("q_shuffle_corpus")
    assert "rangepartitioning" not in p.lower(), p
    p = plan_of("q_char_diversity")
    assert "HashAggregate" in p, p
    assert "BatchEvalPython" not in p, p
    # the join hint must actually reach the physical plan
    p = plan_of("q_join_hinted")
    assert "ShuffledHashJoin" in p, p
    # bucketed aggregation must carry NO exchange before the aggregate
    p = plan_of("q_agg_bucketed")
    assert "Exchange" not in p, p
    assert "HashAggregate" in p, p
    # min/max/count must reach the parquet footer, not the data pages
    p = plan_of("q_agg_pushdown")
    assert "PushedAggregation: [MIN" in p, p


def test_cluster_conf_is_consistent():
    from dataengineering_londonhousingmap_spark.session import CODEGEN_CACHE_MAX_ENTRIES, cluster_conf

    conf = cluster_conf(executors=1000, cores_per_executor=5)
    assert int(conf["spark.sql.shuffle.partitions"]) == 1000 * 5 * 3
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 128 * 1024 * 1024
    # broadcast threshold must stay below a sane executor-memory fraction
    assert int(conf["spark.sql.autoBroadcastJoinThreshold"]) <= 128 * 1024 * 1024
    # the same codegen cache size as the local session profile
    assert conf["spark.sql.codegen.cache.maxEntries"] == str(CODEGEN_CACHE_MAX_ENTRIES)
    assert conf["spark.sql.codegen.useIdInClassName"] == "false"


def test_review_fixes_regressions(spark):
    """Regression pack for the code-review findings."""
    from dataengineering_londonhousingmap_spark.functions.text import token_count
    from dataengineering_londonhousingmap_spark.operators.dedup import (
        char_shingles as _cs,
        lsh_candidate_pairs as _lsh,
        minhash_signatures as _mh,
    )
    from dataengineering_londonhousingmap_spark.operators.reshape import onehot_pivot

    # NULL text → NULL token counts (not legacy size(NULL) = -1)
    df = spark.createDataFrame([(1, None), (2, "a b")], "id long, text string")
    rows = {r.id: r.n for r in df.select("id", token_count("text").alias("n")).collect()}
    assert rows[1] is None and rows[2] == 2

    # onehot: NULL list rows get 'No' dummies, not NULL
    oh = onehot_pivot(
        spark.createDataFrame([(1, "a,b"), (2, None)], "k long, vals string"),
        "k", "vals", ",",
    )
    r2 = {r.k: (r.a, r.b) for r in oh.collect()}
    assert r2[2] == ("No", "No")

    # NULL-text docs produce no shingles → no all-NULL-signature candidates
    docs = spark.createDataFrame([(1, None), (2, None), (3, "abcdefghij")], "doc_id long, text string")
    sh = _cs(docs, "doc_id", "text", w=8)
    assert sh.filter(F.col("doc_id").isin(1, 2)).count() == 0
    cand = _lsh(_mh(sh, "doc_id"), "doc_id")
    assert cand.count() == 0


def test_grouped_zscore_agrees_with_native_window(spark, sf_dir):
    """applyInPandas grouped-map must reproduce the native window-function
    z-score — same semantics, swappable physical path."""
    from pyspark.sql import Window

    from dataengineering_londonhousingmap_spark.operators.udfs import grouped_zscore
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    via_pandas = grouped_zscore(li, "l_returnflag", "l_extendedprice")
    w = Window.partitionBy("l_returnflag")
    via_native = li.withColumn(
        "zscore",
        (F.col("l_extendedprice") - F.avg("l_extendedprice").over(w))
        / F.stddev_samp("l_extendedprice").over(w),
    )
    key = ["l_orderkey", "l_linenumber", "l_extendedprice"]
    a = {tuple(r[k] for k in key): r.zscore for r in via_pandas.collect()}
    b = {tuple(r[k] for k in key): r.zscore for r in via_native.collect()}
    assert len(a) == len(b)
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)


def test_sketch_aggregates_within_error_bounds(spark, sf_dir):
    """The scale-path sketch aggregations (HLL++ count-distinct, quantile
    sketch) must land within their documented error of the exact answers —
    at 100 TB these replace the exact forms, so the bounds are the contract."""
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    li = read_testdata(spark, sf_dir, "lineitem")
    r = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_med"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 1000)").alias("approx_med"),
    ).collect()[0]
    assert abs(r.approx_d - r.exact_d) / r.exact_d < 0.15
    assert abs(r.approx_med - r.exact_med) / max(r.exact_med, 1) < 0.05


def test_grouped_zscore_degenerate_groups_are_null(spark):
    """Single-row and zero-variance groups → NULL, matching the native
    window formulation (the swappable-path contract)."""
    from dataengineering_londonhousingmap_spark.operators.udfs import grouped_zscore

    df = spark.createDataFrame(
        [(1, "solo", 5.0), (2, "flat", 3.0), (3, "flat", 3.0)],
        "id long, grp string, v double",
    )
    rows = {r.id: r.zscore for r in grouped_zscore(df, "grp", "v").collect()}
    assert rows[1] is None and rows[2] is None and rows[3] is None

    import pytest

    with pytest.raises(ValueError):
        grouped_zscore(df.withColumnRenamed("v", "zscore"), "grp", "zscore")


def test_ivf_training_improves_or_matches_recall(spark, sf_dir):
    """Lloyd-trained centroids must produce a working index with recall at
    least in the same band as the untrained md5-sample seeding (on random
    synthetic data the gain is modest; the contract is convergence + a
    balanced, complete index)."""
    from dataengineering_londonhousingmap_spark.operators.similarity import (
        ann_topk_ivf,
        train_ivf_centroids,
    )
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = train_ivf_centroids(emb, k=8, iters=2)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)

    exact = ann_topk_bruteforce(emb, queries, k=5)
    trained = ann_topk_ivf(emb, queries, k=5, n_probe=3, centroids=cents)
    e = {(r.query_id, r.match_id) for r in exact.collect()}
    t = {(r.query_id, r.match_id) for r in trained.collect()}
    assert len(t) == len(e)  # full top-k for every query
    assert len(e & t) / len(e) >= 0.3, "trained IVF recall collapsed"


def test_closest_line_first_underground_match(spark):
    """F13 (the one demonstration pandas UDF): walk (station, distance,
    line) triples, return the FIRST Underground entry, else the null triple
    (pipeline .py:480-501, .py:521-523)."""
    from dataengineering_londonhousingmap_spark.operators.udfs import closest_line

    rows = [
        # first triple is rail → skipped; second is Underground → picked
        (["Kings X", "0.2m", "Thameslink", "Angel", "0.3m", "Northern line"],),
        # no underground entry at all → null triple
        (["Stratford", "0.1m", "DLR"],),
        (None,),
    ]
    df = spark.createDataFrame(rows, "toks array<string>")
    out = df.select(closest_line("toks").alias("r")).select("r.*").collect()
    assert (out[0].subway_station, out[0].tube_line) == ("Angel", "Northern line")
    assert out[1].subway_station is None and out[1].tube_line is None
    assert out[2].subway_station is None


def test_repartition_by_bytes_scales_with_payload(spark):
    """Byte-budget partitioning: wider payloads → more partitions for the
    same row count (row-count-based sizing is wrong for binary columns)."""
    from dataengineering_londonhousingmap_spark.operators.multimodal import (
        repartition_by_bytes,
        synthesize_media,
    )

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.lit("seed").alias("text")
    )
    assets = synthesize_media(docs, "doc_id", "text")
    small = repartition_by_bytes(assets, target_partition_mb=1)
    big = repartition_by_bytes(assets, target_partition_mb=1, est_row_bytes=1024 * 1024)
    assert big.rdd.getNumPartitions() > small.rdd.getNumPartitions()


def test_aqe_skew_join_split_fires(spark, tmp_path):
    """The 100 TB story leans on AQE for skew (session.py enables
    skewJoin; salted_join is the manual fallback) — prove the runtime
    split actually fires. One key owning ~95% of the left side, thresholds
    lowered so local data qualifies: the final adaptive SortMergeJoin must
    carry skew=true, and results must match the non-adaptive join."""
    import contextlib
    import io

    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # thresholds scaled to local data: compressed shuffle partitions are a
    # few KB here where production defaults expect 256 MB
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1024")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    s.conf.set("spark.sql.shuffle.partitions", "8")

    left_path, right_path = str(tmp_path / "skew_l"), str(tmp_path / "skew_r")
    s.range(0, 60_000).selectExpr(
        "CASE WHEN id % 20 = 0 THEN id % 40 ELSE 7 END AS k",
        "repeat('x', 256) AS pad",
    ).write.mode("overwrite").parquet(left_path)
    s.range(0, 40).selectExpr("id AS k", "id * 10 AS dim_val").write.mode(
        "overwrite"
    ).parquet(right_path)

    # aggregate on dim_val, NOT the join key: a groupBy on k would need the
    # join's hashpartitioning(k) and AQE refuses to split a skewed partition
    # whose output partitioning is still required downstream
    joined = (
        s.read.parquet(left_path)
        .join(s.read.parquet(right_path), "k")
        .groupBy("dim_val")
        .count()
    )
    rows = {r.dim_val // 10: r["count"] for r in joined.collect()}  # action → final plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "skew=true" in plan, plan
    # hot key 7: all ids where id%20 != 0 → 60000 - 3000 = 57000 rows
    assert rows[7] == 57_000
    assert sum(rows.values()) == 60_000


def test_exact_percentiles_scalable_bit_equal(spark, sf_dir):
    """The sketch-bracketed refinement must reproduce Spark's exact
    ``percentile`` bit-for-bit — it replaces it in q_winsorize where the
    full-value aggregation buffer would OOM at scale."""
    from pyspark.sql import functions as F

    from dataengineering_londonhousingmap_spark.operators.quantiles import (
        exact_percentiles_scalable,
    )
    from dataengineering_londonhousingmap_spark.sources.io import read_testdata

    li = read_testdata(spark, sf_dir, "lineitem")
    got = {
        r.l_returnflag: (r.p_0, r.p_1)
        for r in exact_percentiles_scalable(
            li, "l_returnflag", "l_extendedprice", [0.05, 0.95]
        ).collect()
    }
    want = {
        r.l_returnflag: (r.p05, r.p95)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.05)").alias("p05"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert got == want


def test_exact_percentiles_build_jobs_do_not_depend_on_input_size(spark):
    """Building the percentile plan launches the same eager jobs on a small
    and on a large input: no arm is picked from a size estimate."""
    import uuid

    from dataengineering_londonhousingmap_spark.operators.quantiles import (
        exact_percentiles_scalable,
    )

    sc = spark.sparkContext

    def build_jobs(n: int) -> int:
        df = spark.range(n).selectExpr("id % 3 AS g", "CAST(id AS DOUBLE) AS v")
        group = f"pct-build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            exact_percentiles_scalable(df, "g", "v", [0.05, 0.5, 0.95])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert build_jobs(5_000) == build_jobs(400_000)


def test_check_suite_verdicts(spark):
    """passed must be computed on the ROUNDED metric and honour the
    threshold comparison exactly."""
    from pyspark.sql import functions as F

    from dataengineering_londonhousingmap_spark.operators.profiling import check_suite

    df = spark.createDataFrame([(1, None), (2, "x"), (2, "y")], ["k", "v"])
    n = F.count(F.lit(1)).cast("double")
    out = {
        r.check: (r.metric, r.passed)
        for r in check_suite(
            df,
            [
                ("completeness:v", F.count("v") / n, 1.0),
                ("uniqueness:k", F.countDistinct("k") / n, 1.0),
            ],
        ).collect()
    }
    assert out["completeness:v"] == (round(2 / 3, 6), False)
    assert out["uniqueness:k"] == (round(2 / 3, 6), False)


def test_containment_vs_jaccard_on_subset(spark):
    """A short doc embedded verbatim in a long one: containment ≈ 1 while
    jaccard dilutes toward |short|/|long| — the metric distinction
    q_containment exists for."""
    from dataengineering_londonhousingmap_spark.operators.dedup import (
        char_shingles,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog"
    long = ("unrelated preamble text here. " * 5) + short + (" trailing filler words" * 5)
    docs = spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string")
    sh = char_shingles(docs, "doc_id", "text", w=8)
    cont = ngram_containment_pairs(sh, "doc_id", threshold=0.0).collect()
    jac = ngram_jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
    assert len(cont) == 1 and len(jac) == 1
    c, j = cont[0]["containment"], jac[0]["jaccard"]
    assert c > 0.9, c          # near-total containment
    assert j < 0.5 * c, (j, c)  # jaccard diluted by the long doc


def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_round3_plans_have_scale_shapes(spark, sf_dir):
    """Plan assertions for the round-3 shapes (same discipline as the
    bucketed/salted join tests): the co-purchase self-join must be an
    equi-join (no nested-loop/cartesian), the temperature-sampling rate
    join must broadcast (never shuffle the fact for a ≤k-row rate table),
    and the vocab top-k must plan as TakeOrderedAndProject (never a global
    sort of the token table)."""
    from dataengineering_londonhousingmap_spark.queries import QUERIES

    cop = _plan_of(QUERIES["q_copurchase"](spark, sf_dir))
    assert "CartesianProduct" not in cop and "BroadcastNestedLoopJoin" not in cop, cop

    temp = _plan_of(QUERIES["q_sample_temperature"](spark, sf_dir))
    assert "BroadcastHashJoin" in temp, temp

    vocab = _plan_of(QUERIES["q_vocab_oov"](spark, sf_dir))
    assert "TakeOrderedAndProject" in vocab, vocab
    assert "BroadcastHashJoin" in vocab, vocab


def test_materialize_reliable_without_checkpoint_dir_fails_fast(spark):
    """The cluster conf profile can set the reliableCheckpoint flag but
    cannot set the required checkpoint dir — materialize() must fail fast
    with an actionable message instead of an opaque SparkException deep
    inside the first eager checkpoint job. Must run BEFORE the routing
    test below (same file, definition order), which permanently defines
    the shared session's checkpoint dir."""
    import pytest as _pytest

    from dataengineering_londonhousingmap_spark.operators.util import materialize

    if spark.sparkContext._jsc.sc().checkpointDir().isDefined():
        _pytest.skip("checkpoint dir already defined in this session")
    spark.conf.set("spark.dataengineering_londonhousingmap_spark.reliableCheckpoint", "true")
    try:
        with _pytest.raises(RuntimeError, match="setCheckpointDir"):
            materialize(spark.range(10).withColumnRenamed("id", "v"))
    finally:
        spark.conf.unset("spark.dataengineering_londonhousingmap_spark.reliableCheckpoint")


def test_materialize_reliable_flag_routes_to_checkpoint(spark, sf_dir, tmp_path):
    """materialize() is the engine-wide lineage-cut chokepoint: default is
    localCheckpoint (executor-local blocks — fine on local[N], documented
    local-mode assumption), and the one session flag must flip it to a
    RELIABLE checkpoint whose blocks live under the configured checkpoint
    dir and survive executor loss on a real cluster."""
    import os

    from dataengineering_londonhousingmap_spark.operators.util import materialize

    df = spark.range(100).withColumnRenamed("id", "v")
    local = materialize(df)
    assert local.count() == 100  # default path: localCheckpoint

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("spark.dataengineering_londonhousingmap_spark.reliableCheckpoint", "true")
    try:
        rel = materialize(spark.range(100).withColumnRenamed("id", "v"))
        assert rel.count() == 100
        # reliable checkpoints land files under the checkpoint dir
        found = any(files for _, _, files in os.walk(tmp_path / "ckpt"))
        assert found, "no checkpoint files written under the checkpoint dir"
    finally:
        spark.conf.unset("spark.dataengineering_londonhousingmap_spark.reliableCheckpoint")


def test_file_corpus_staging_is_deterministic(spark, sf_dir):
    """The file-ingest fixtures (q_scan_text/wholefile/binary) must stage
    byte-identical files on every rebuild — the oracles recompute the
    expected bytes from the documents view, so any nondeterminism in the
    staging (collect order, line endings, blob construction) would show
    up as a driver-red that passes locally. Force a restage and compare
    content digests file by file."""
    import hashlib
    import pathlib
    import shutil

    from dataengineering_londonhousingmap_spark.queries import _stage_file_corpus

    def digest_tree(text_dir: str, bin_dir: str) -> dict[str, str]:
        out = {}
        for d in (text_dir, bin_dir):
            for p in sorted(pathlib.Path(d).iterdir()):
                out[p.name] = hashlib.md5(p.read_bytes()).hexdigest()
        return out

    text_dir, bin_dir = _stage_file_corpus(spark, sf_dir)
    first = digest_tree(text_dir, bin_dir)
    assert len(first) == 12, f"expected 4 text shards + 8 blobs, got {sorted(first)}"

    shutil.rmtree(pathlib.Path(text_dir).parent)  # drop the _STAGED marker too
    text_dir2, bin_dir2 = _stage_file_corpus(spark, sf_dir)
    assert digest_tree(text_dir2, bin_dir2) == first


def test_pgm_ppm_codec_known_fixtures():
    """The dependency-free Netpbm codec (round-8: closes the multimodal
    decode stub): encode→decode roundtrip, hand-written header variants
    (comments, multi-digit dims), P6 RGB→integer-luma fold, and truncation
    errors — all without PIL."""
    import pytest

    from dataengineering_londonhousingmap_spark.operators.multimodal import decode_image, encode_pgm

    matrix = [[0, 255, 7], [128, 1, 200]]
    assert decode_image(encode_pgm(matrix)) == matrix
    # hand-built header with a comment line and extra whitespace
    hand = b"P5\n# a comment\n 3  2\n255\n" + bytes([0, 255, 7, 128, 1, 200])
    assert decode_image(hand) == matrix
    # P6: RGB folds to grayscale by (299R + 587G + 114B) // 1000
    ppm = b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0])
    assert decode_image(ppm) == [[(299 * 255) // 1000, (587 * 255) // 1000]]
    with pytest.raises(ValueError):
        decode_image(b"P5\n4 4\n255\n\x00\x00")  # truncated pixel data
    with pytest.raises(ValueError):
        encode_pgm([[1, 2], [3]])  # ragged
    with pytest.raises(NotImplementedError):
        decode_image(b"P5\n1 1\n65535\n\x00\x00")  # 16-bit samples


def test_resize_images_decodes_real_pgm(spark):
    """resize_images must take the REAL decode path for PGM payloads —
    dimensions from the image header, not the raw 16×8 layout — and
    produce the exact same thumbnail as the raw-matrix path when the
    pixels match (the property q_multimodal_resize's oracle relies on)."""
    from dataengineering_londonhousingmap_spark.operators.multimodal import (
        encode_pgm,
        resize_images,
        synthesize_media,
    )

    raw = bytes(range(128))  # the 8×16 fixture from the raw-path test
    pgm = encode_pgm([list(raw[r * 16 : (r + 1) * 16]) for r in range(8)])
    # a DIFFERENTLY-sized image: 4×2 → dims must come from the header
    # (the raw path would misread it as 16×8 zero-padded)
    small = encode_pgm([[0, 10, 20, 30], [40, 50, 60, 70]])
    assets = spark.createDataFrame(
        [(1, pgm), (2, small)], "asset_id long, payload binary"
    )
    got = {r.asset_id: r for r in resize_images(assets).collect()}
    assert got[1].resized_mean == 54.0  # identical to the raw-path fixture
    # 4×4 thumbnail of the 4×2 image: rows {0,0,1,1}, cols {0,1,2,3}
    assert got[2].resized_mean == (0 + 10 + 20 + 30 + 40 + 50 + 60 + 70) / 8 * 1.0

    # synthesize_media wrap='pgm' produces the same resized means as raw
    # (same pixels, real decode) — the exact invariant the driver oracle
    # checks at catalog scale
    docs = spark.createDataFrame(
        [(1, "seed one"), (2, "seed two")], "doc_id long, text string"
    )
    raw_means = {
        r.asset_id: r.resized_mean
        for r in resize_images(synthesize_media(docs, "doc_id", "text")).collect()
    }
    pgm_assets = synthesize_media(docs, "doc_id", "text", wrap="pgm")
    assert {r.codec for r in pgm_assets.select("codec").collect()} == {"pgm"}
    pgm_means = {
        r.asset_id: r.resized_mean for r in resize_images(pgm_assets).collect()
    }
    assert raw_means == pgm_means


def test_bpe_merge_steps_greedy_fold_and_order(spark):
    """r12 (X166): the merge fold is greedy left-to-right non-overlapping
    ('aaaa' under (a,a) → two 'aa', never three), ties break
    lexicographically, and later iterations count MERGED symbols (the
    winning pair of iteration 2 includes symbols produced by iteration
    1). Fixed fixture chosen so every property decides a row."""
    from pyspark.sql import functions as F

    from dataengineering_londonhousingmap_spark.operators.vocab import bpe_merge_steps

    words = spark.createDataFrame(
        # 'aaaa'×3: pair (a,a) count 9 (3 adjacent positions × 3)
        # 'abab'×2: (a,b) 4, (b,a) 2 — after merging (a,a), 'aaaa'→[aa,aa]
        # creating pair (aa,aa) count 3; (a,b) at 4 still wins iter 2
        [("aaaa", 3), ("abab", 2)],
        "word string, freq long",
    )
    got = [
        tuple(r)
        for r in bpe_merge_steps(words, "word", "freq", n_merges=3)
        .orderBy("iter")
        .collect()
    ]
    assert got[0] == (1, "a", "a", "aa", 9)
    assert got[1] == (2, "a", "b", "ab", 4)
    # iter 3: 'abab'→[ab,ab] gives (ab,ab)=2; 'aaaa'→[aa,aa] gives
    # (aa,aa)=3 — merged symbols are first-class pair members
    assert got[2] == (3, "aa", "aa", "aaaa", 3)

    # lexicographic tie-break: (a,b) and (b,a) both count 2 in 'abab'×1 +
    # 'baba'×1 ... construct an exact tie: 'ab'×2 and 'ba'×2
    tie = spark.createDataFrame([("ab", 2), ("ba", 2)], "word string, freq long")
    first = (
        bpe_merge_steps(tie, "word", "freq", n_merges=1)
        .select("pair_a", "pair_b", "cnt")
        .collect()[0]
    )
    assert tuple(first) == ("a", "b", 2)

    # n_merges beyond exhaustion: single-symbol vocab yields no rows
    spent = spark.createDataFrame([("x", 5)], "word string, freq long")
    assert bpe_merge_steps(spent, "word", "freq", n_merges=2).count() == 0


def test_bpe_encode_words_segments_under_learned_merges(spark):
    """r12 (X167): the encode table is the SAME final fold state the
    induction produced — every vocab word present exactly once, segmented
    under all merges in order."""
    from dataengineering_londonhousingmap_spark.operators.vocab import bpe_encode_words

    words = spark.createDataFrame(
        [("aaaa", 3), ("abab", 2)], "word string, freq long"
    )
    enc = {r.word: r.seq for r in bpe_encode_words(words, "word", "freq", 3).collect()}
    # merges learned (see the steps test): (a,a) -> (a,b) -> (aa,aa)
    assert enc == {"aaaa": ["aaaa"], "abab": ["ab", "ab"]}


def test_bpe_apply_merges_on_unseen_words(spark):
    """r12 (X168): a standing merge table tokenizes words the induction
    never saw; merge ORDER is respected (a later merge can consume an
    earlier merge's product, and cannot see adjacencies broken by it);
    an EMPTY merge table degenerates to character segmentation without
    losing rows."""
    from dataengineering_londonhousingmap_spark.operators.vocab import bpe_apply_merges

    merges = spark.createDataFrame(
        [(1, "a", "a"), (2, "aa", "b")], "iter int, pair_a string, pair_b string"
    )
    words = spark.createDataFrame(
        [("aaab",), ("aab",), ("zzz",)], "word string"
    )
    got = {r.word: r.seq for r in bpe_apply_merges(words, "word", merges).collect()}
    # 'aaab': (a,a) -> [aa,a,b]; (aa,b) finds no adjacency -> unchanged
    # 'aab':  (a,a) -> [aa,b];   (aa,b) -> [aab]
    # 'zzz':  untouched by either merge
    assert got == {"aaab": ["aa", "a", "b"], "aab": ["aab"], "zzz": ["z", "z", "z"]}

    empty = spark.createDataFrame([], "iter int, pair_a string, pair_b string")
    got0 = {r.word: r.seq for r in bpe_apply_merges(words, "word", empty).collect()}
    assert got0 == {
        "aaab": ["a", "a", "a", "b"],
        "aab": ["a", "a", "b"],
        "zzz": ["z", "z", "z"],
    }


def test_local_relation_preserves_null_numerics_and_stays_local(spark):
    """ADVICE r12: a None in a NUMERIC column must arrive as SQL NULL (the
    naive pandas path would infer float64 and ship NaN via Arrow while the
    classic fallback ships NULL — silent, environment-dependent). Also pin
    that the plan leaf is a true LocalRelation, not a pickled-RDD scan."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from dataengineering_londonhousingmap_spark.operators.util import local_relation

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("n", LongType()),
            StructField("x", DoubleType()),
        ]
    )
    df = local_relation(spark, [(1, None, 1.5), (2, 7, None)], schema)
    rows = {r["k"]: (r["n"], r["x"]) for r in df.collect()}
    assert rows == {1: (None, 1.5), 2: (7, None)}
    # NULL, not NaN: a NaN would fail IS NULL and poison joins/aggregates
    assert df.filter(F.col("x").isNull()).count() == 1
    assert df.filter(F.col("n").isNull()).count() == 1
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "ExistingRDD" not in plan
