"""exact_dup_quotient (r08) must be output-IDENTICAL to the direct path.

The quotient's correctness argument: identical inputs have identical
shingles/signatures/band hashes (text) and identical cosines (vectors), so
candidacy and similarity values quotient exactly, intra-group connectivity
is implied by the group's shared representative, and the representative id
IS the group min — so min-label components expand back to exactly the
direct path's clustering. These tests pin that argument empirically on
twin-heavy corpora INCLUDING the rows the quotient must NOT collapse:
NULL texts (shed no shingles → the direct path leaves identical NULL twins
as separate clusters) and zero vectors (cosine's denominator guard gives
them no edges). A quotient that collapsed those would silently merge
clusters the direct path keeps apart.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dataengineering_londonhousingmap_spark.operators.dedup import (
    char_shingles,
    connected_components,
    exact_dup_quotient,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from dataengineering_londonhousingmap_spark.operators.similarity import embedding_near_dup


def _text_edges(docs):
    sh = char_shingles(docs, "doc_id", "text", w=8)
    sig = minhash_signatures(sh, "doc_id")
    cand = lsh_candidate_pairs(sig, "doc_id")
    return ngram_jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cand).select(
        "id_a", "id_b"
    )


def _clusters_direct(docs):
    return connected_components(docs.select("doc_id"), _text_edges(docs), "doc_id")


def _clusters_quotient(docs):
    reps, mapping = exact_dup_quotient(
        docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    cc = connected_components(reps.select("doc_id"), _text_edges(reps), "doc_id")
    return mapping.expand(cc, "doc_id").select("doc_id", "cluster_id")


def test_text_quotient_matches_direct_on_twin_heavy_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base[:-1] + "x"  # ~60 shared 8-shingles of 63 → high Jaccard
    other = "completely different content about spark catalyst optimizer plans"
    rows = (
        [(i, base) for i in (1, 2, 3, 4)]            # 4-way exact-dup group
        + [(i, near) for i in (10, 11, 12)]           # 3-way group, near-dup of base
        + [(i, other) for i in (20, 21)]              # unrelated pair
        + [(30, ""), (31, "")]                        # empty-text twins (DO edge: shared "" shingle)
        + [(40, "   "), (41, "   ")]                  # whitespace twins
        + [(50, None), (51, None)]                    # NULL twins: must stay separate
        + [(60, "a single unique document with no duplicate anywhere at all")]
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    docs = spark.createDataFrame(rows, schema)

    direct = {r["doc_id"]: r["cluster_id"] for r in _clusters_direct(docs).collect()}
    quot = {r["doc_id"]: r["cluster_id"] for r in _clusters_quotient(docs).collect()}
    assert quot == direct

    # the corpus actually exercised a CROSS-group near-dup edge (base↔near
    # survived LSH banding) — otherwise this test wouldn't cover component
    # min propagating through representatives
    assert direct[10] == direct[1] == 1
    # NULL twins stayed singleton clusters in both paths
    assert direct[50] == 50 and direct[51] == 51
    assert quot[50] == 50 and quot[51] == 51
    # exact twins collapsed to the group min in both paths
    assert direct[30] == direct[31] == 30


def _vec_clusters_direct(emb):
    pairs = embedding_near_dup(emb, threshold=0.42).select("id_a", "id_b")
    return connected_components(emb.select("vec_id"), pairs, "vec_id")


def _vec_clusters_quotient(emb):
    reps, mapping = exact_dup_quotient(
        emb,
        "vec_id",
        F.md5(F.col("embedding").cast("string")),
        F.exists(F.col("embedding"), lambda x: x != F.lit(0.0)),
    )
    pairs = embedding_near_dup(reps, threshold=0.42).select("id_a", "id_b")
    cc = connected_components(reps.select("vec_id"), pairs, "vec_id")
    return mapping.expand(cc, "vec_id").select("vec_id", "cluster_id")


def test_vector_quotient_matches_direct_including_zero_vectors(spark):
    a = [1.0, 0.0, 0.0, 0.0]
    near_a = [0.9, 0.4, 0.0, 0.0]  # cosine(a, near_a) ≈ 0.914 ≥ 0.42
    ortho = [0.0, 0.0, 1.0, 0.0]
    zero = [0.0, 0.0, 0.0, 0.0]
    rows = (
        [(i, a) for i in (1, 2, 3)]
        + [(i, near_a) for i in (10, 11)]
        + [(20, ortho), (21, ortho)]
        + [(30, zero), (31, zero)]  # zero twins: no cosine edge, must stay separate
        + [(40, [0.0, 0.0, 0.0, 1.0])]  # orthogonal to every group: stays singleton
    )
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    emb = spark.createDataFrame(rows, schema)

    direct = {r["vec_id"]: r["cluster_id"] for r in _vec_clusters_direct(emb).collect()}
    quot = {r["vec_id"]: r["cluster_id"] for r in _vec_clusters_quotient(emb).collect()}
    assert quot == direct
    assert direct[10] == direct[1] == 1          # near-dup edge crossed groups
    assert direct[30] == 30 and direct[31] == 31  # zero twins isolated
    assert quot[30] == 30 and quot[31] == 31
    assert direct[20] == direct[21] == 20


_POOL = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bend",
    "a totally unrelated document about catalyst optimizer internals",
    "short",
    "",
    "   ",
    None,
]


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(st.lists(st.sampled_from(_POOL), min_size=2, max_size=14))
def test_text_quotient_matches_direct_on_random_corpora(spark, texts):
    """Property form: for ANY multiset drawn from a pool that forces exact
    twins, near-dups, shingle-less shorts, empties, and NULLs, the quotient
    clustering equals the direct clustering row-for-row."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    docs = spark.createDataFrame(list(enumerate(texts)), schema)
    direct = {r["doc_id"]: r["cluster_id"] for r in _clusters_direct(docs).collect()}
    quot = {r["doc_id"]: r["cluster_id"] for r in _clusters_quotient(docs).collect()}
    assert quot == direct


def _members(mapping):
    """The sparse arm's {rep: sorted members} for multi-member groups."""
    return {
        r["__q_rep"]: sorted(r["__q_members"])
        for r in mapping.members_df.collect()
    }


def test_quotient_rep_counts(spark):
    """reps = one row per distinct collapsible value + every non-collapsible
    row; expansion covers every input id exactly once."""
    rows = [(1, "aa"), (2, "aa"), (3, "bb"), (4, None), (5, None)]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(rows, schema)
    reps, mapping = exact_dup_quotient(
        df, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 3, 4, 5]
    # one twin group of 2 out of 5 rows → the sparse arm, whose
    # LocalRelation members cover multi-member groups only
    assert mapping.kind == "sparse"
    assert _members(mapping) == {1: [1, 2]}
    # expand over the full rep set reconstructs every input id exactly once
    expanded = mapping.expand(reps.select("doc_id"), "doc_id")
    assert sorted(r["doc_id"] for r in expanded.collect()) == [1, 2, 3, 4, 5]


# ---------------------------------------------------------------------------
# r09: pair-OUTPUT quotient queries (minhash candidates, jaccard verify,
# incremental vs standing index) — quotient_expand_pairs must reproduce the
# direct path's pair set exactly, including within-group twin pairs.
# ---------------------------------------------------------------------------

from dataengineering_londonhousingmap_spark.operators.dedup import (  # noqa: E402
    lsh_candidate_pairs_against,
    quotient_expand_pairs,
)

_PAIR_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _pair_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base[:-1] + "x"
    other = "completely different content about spark catalyst optimizer plans"
    rows = (
        [(i, base) for i in (1, 2, 3, 4)]
        + [(i, near) for i in (10, 11, 12)]
        + [(i, other) for i in (20, 21)]
        + [(30, ""), (31, "")]
        + [(40, "   "), (41, "   ")]
        + [(50, None), (51, None)]
        + [(60, "short")]
        + [(61, "short")]  # short-text twins: single whole-text shingle
        + [(70, "a single unique document with no duplicate anywhere at all")]
    )
    return spark.createDataFrame(rows, _PAIR_SCHEMA)


def _minhash_direct(docs):
    sh = char_shingles(docs, "doc_id", "text", w=8, distinct=False)
    sig = minhash_signatures(sh, "doc_id")
    return lsh_candidate_pairs(sig, "doc_id")


def _minhash_quotient(docs):
    from dataengineering_londonhousingmap_spark.operators.util import materialize

    reps, mapping = exact_dup_quotient(
        docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    mapping = mapping.materialize()
    cand = _minhash_direct(reps).select(
        F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b")
    )
    return quotient_expand_pairs(cand, mapping, "doc_id", include_self_pairs=True)


def test_minhash_candidate_quotient_matches_direct(spark):
    docs = _pair_corpus(spark)
    direct = {(r["id_a"], r["id_b"]) for r in _minhash_direct(docs).collect()}
    quot = {(r["id_a"], r["id_b"]) for r in _minhash_quotient(docs).collect()}
    assert quot == direct
    # the corpus exercised every arm: twin self-pairs, cross-group pairs,
    # NULL twins excluded, short-text twins included (whole-text shingle)
    assert (1, 2) in direct and (60, 61) in direct and (30, 31) in direct
    assert (50, 51) not in direct
    assert (1, 10) in direct  # near-dup cross-group candidate


def _jaccard_direct(docs):
    sh = char_shingles(docs, "doc_id", "text", w=8)
    sig = minhash_signatures(sh, "doc_id")
    cand = lsh_candidate_pairs(sig, "doc_id")
    out = ngram_jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cand)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _jaccard_quotient(docs):
    from dataengineering_londonhousingmap_spark.operators.util import materialize

    reps, mapping = exact_dup_quotient(
        docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    mapping = mapping.materialize()
    sh = char_shingles(reps, "doc_id", "text", w=8).transform(materialize)
    sig = minhash_signatures(sh, "doc_id")
    cand = lsh_candidate_pairs(sig, "doc_id")
    rp = ngram_jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cand).select(
        F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b"), "jaccard"
    )
    return quotient_expand_pairs(
        rp, mapping, "doc_id",
        payload_cols=["jaccard"], self_payload={"jaccard": F.lit(1.0)},
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def test_jaccard_verify_quotient_matches_direct(spark):
    docs = _pair_corpus(spark)
    direct = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in _jaccard_direct(docs).collect()
    }
    quot = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in _jaccard_quotient(docs).collect()
    }
    assert quot == direct
    # twin pairs verify at EXACTLY 1.0 on both paths (the literal the
    # self-pair arm emits must match the direct path's s/(s+s-s) bits)
    assert direct[(1, 2)] == 1.0 and direct[(30, 31)] == 1.0


def test_incremental_quotient_matches_direct(spark):
    from dataengineering_londonhousingmap_spark.operators.util import materialize

    docs = _pair_corpus(spark)
    side_new = F.col("doc_id") % 2 == 0  # deterministic stand-in for the hash bucket

    def direct():
        sh = char_shingles(docs, "doc_id", "text", w=8).transform(materialize)
        sig = minhash_signatures(sh, "doc_id").transform(materialize)
        cand = lsh_candidate_pairs_against(sig.filter(side_new), sig.filter(~side_new), "doc_id")
        return ngram_jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cand).select(
            F.col("id_a").alias("new_id"), F.col("id_b").alias("index_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )

    def quotient():
        n_reps, n_map = exact_dup_quotient(
            docs.filter(side_new), "doc_id", F.md5("text"), F.col("text").isNotNull()
        )
        i_reps, i_map = exact_dup_quotient(
            docs.filter(~side_new), "doc_id", F.md5("text"), F.col("text").isNotNull()
        )
        sh = char_shingles(
            n_reps.unionByName(i_reps), "doc_id", "text", w=8
        ).transform(materialize)
        sig = minhash_signatures(sh, "doc_id").transform(materialize)
        cand = lsh_candidate_pairs_against(sig.filter(side_new), sig.filter(~side_new), "doc_id")
        pairs = ngram_jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cand)
        out = n_map.expand(pairs, "id_a", "new_id")
        out = i_map.expand(out, "id_b", "index_id")
        return out.select(
            "new_id", "index_id", F.round("jaccard", 6).alias("jaccard")
        )

    d = {(r["new_id"], r["index_id"]): r["jaccard"] for r in direct().collect()}
    q = {(r["new_id"], r["index_id"]): r["jaccard"] for r in quotient().collect()}
    assert q == d
    # cross-side twins landed (even↔odd ids with identical text) and the
    # NULL pair (50, 51) did not
    assert (2, 1) in d and d[(2, 1)] == 1.0
    assert (50, 51) not in d


def test_quotient_null_fingerprint_rows_stay_singletons(spark):
    """ADVICE r08: a fingerprint expression that evaluates to NULL must
    never cross-collapse rows — NULL fingerprints route through the
    __self singleton arm even when no collapsible guard is given."""
    rows = [(1, "aa"), (2, "aa"), (3, None), (4, None)]
    df = spark.createDataFrame(rows, _PAIR_SCHEMA)
    reps, mapping = exact_dup_quotient(df, "doc_id", F.md5("text"))  # md5(NULL)=NULL
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 3, 4]
    # NULL-fingerprint rows route to singleton groups, so the only stored
    # group is the real twin pair (the sparse arm keeps multi-groups only)
    assert mapping.kind == "sparse"
    assert _members(mapping) == {1: [1, 2]}
    expanded = mapping.expand(reps.select("doc_id"), "doc_id")
    assert sorted(r["doc_id"] for r in expanded.collect()) == [1, 2, 3, 4]


def test_quotient_expand_pairs_requires_matching_self_payload(spark):
    import pytest

    df = spark.createDataFrame([(1, "aa"), (2, "aa")], _PAIR_SCHEMA)
    _reps, mapping = exact_dup_quotient(df, "doc_id", F.md5("text"))
    rp = spark.createDataFrame(
        [], "rep_a LONG, rep_b LONG, jaccard DOUBLE"
    )
    with pytest.raises(ValueError, match="self_payload"):
        quotient_expand_pairs(
            rp, mapping, "doc_id",
            payload_cols=["jaccard"], include_self_pairs=True,
        )


def test_quotient_null_id_rows_raise(spark, monkeypatch):
    """ADVICE r10: the three arms' rep filters diverge on NULL ids (dense
    semi-join drops them, sparse anti-join keeps them, bypass returns the
    input verbatim), so every call must reject NULL ids loudly instead of
    silently picking arm-dependent semantics. The check rides the existing
    detection aggregate — no extra job."""
    import pytest

    # NULL id in a twin group (would be a collapsed member)
    df = spark.createDataFrame([(1, "aa"), (None, "aa"), (2, "bb")], _PAIR_SCHEMA)
    with pytest.raises(ValueError, match="non-NULL 'doc_id'"):
        exact_dup_quotient(df, "doc_id", F.md5("text"))
    # NULL id on a singleton row (would-be rep) is equally rejected: the
    # divergence is about id NULLness, not group multiplicity
    df2 = spark.createDataFrame([(1, "aa"), (None, "zz")], _PAIR_SCHEMA)
    with pytest.raises(ValueError, match="non-NULL 'doc_id'"):
        exact_dup_quotient(df2, "doc_id", F.md5("text"))
    # the dense arm checks too: a NULL id beside a twin group that the
    # dense arm would collapse
    df3 = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (None, "bb")], _PAIR_SCHEMA
    )
    with _forced_arm(monkeypatch, "dense"):
        with pytest.raises(ValueError, match="non-NULL 'doc_id'"):
            exact_dup_quotient(df3, "doc_id", F.md5("text"))


def test_quotient_expand_pairs_bypass_rejects_self_pairs(spark):
    """ADVICE r10: the bypass arm must not silently discard a non-None
    self_pairs frame — a caller that builds it unconditionally (instead of
    branching on mapping.twin_free) would lose rows with no error."""
    import pytest

    df = spark.createDataFrame([(1, "aa"), (2, "bb")], _PAIR_SCHEMA)
    _reps, mapping = exact_dup_quotient(df, "doc_id", F.md5("text"))
    assert mapping.twin_free
    rp = spark.createDataFrame([], "rep_a LONG, rep_b LONG, cos DOUBLE")
    sp = spark.createDataFrame([], "rep_a LONG, rep_b LONG, cos DOUBLE")
    with pytest.raises(ValueError, match="twin-free"):
        quotient_expand_pairs(
            rp, mapping, "doc_id", payload_cols=["cos"], self_pairs=sp
        )


# ---------------------------------------------------------------------------
# fuzzy-join ordered-DP reconstruction (r09): the DP runs only on
# name_a < name_b distinct pairs; the reverse orientation (via
# both_orientations' explode — never a union, which replays the block
# join per branch) and the trivial equal-name dist-0 pairs are
# reconstructed. Must reproduce the naive all-orientations path exactly.
# ---------------------------------------------------------------------------

from dataengineering_londonhousingmap_spark.operators.dedup import both_orientations  # noqa: E402


def _fuzzy_inputs(spark):
    # twins (same name, several keys), distance-1 neighbours inside one
    # 16-char block, a distance-2 pair (excluded), and a lone name in its
    # own block
    rows = [
        (1, "Customer#0000000001"),
        (2, "Customer#0000000001"),   # exact twin of key 1
        (3, "Customer#0000000002"),   # dist 1 from 01 (same block)
        (4, "Customer#0000000013"),   # dist 2 from 01 (excluded)
        (5, "Customer#0000000012"),   # dist 1 from 13 AND 02
        (6, "Different#000000001"),   # own block
        (7, "Customer#0000000002"),   # twin of key 3
    ]
    return spark.createDataFrame(rows, "c_custkey long, c_name string")


def _fuzzy_shape(cust, ordered_dp: bool):
    from dataengineering_londonhousingmap_spark.operators.util import materialize

    cust = cust.select("c_custkey", "c_name", F.substring("c_name", 1, 16).alias("block"))
    names = cust.select("block", "c_name").distinct().transform(materialize)
    na = names.select(F.col("c_name").alias("name_a"), F.col("block").alias("__ba"))
    nb = names.select(F.col("c_name").alias("name_b"), F.col("block").alias("__bb"))
    if ordered_dp:
        half = (
            na.join(nb, (F.col("__ba") == F.col("__bb")) & (F.col("name_a") < F.col("name_b")))
            .select("name_a", "name_b", F.levenshtein("name_a", "name_b").alias("dist"))
            .filter(F.col("dist") <= 1)
        )
        npairs = both_orientations(
            half, a_col="name_a", b_col="name_b", payload_cols=["dist"]
        ).unionByName(
            names.select(
                F.col("c_name").alias("name_a"),
                F.col("c_name").alias("name_b"),
                F.lit(0).alias("dist"),
            )
        )
    else:  # naive: DP on every ordered pair including equal names
        npairs = (
            na.join(nb, F.col("__ba") == F.col("__bb"))
            .select("name_a", "name_b", F.levenshtein("name_a", "name_b").alias("dist"))
            .filter(F.col("dist") <= 1)
        )
    ka = cust.select(F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"))
    kb = cust.select(F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"))
    return (
        npairs.join(ka, "name_a")
        .join(kb, "name_b")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    )


def test_fuzzy_ordered_dp_reconstruction_matches_direct(spark):
    cust = _fuzzy_inputs(spark)
    direct = {tuple(r) for r in _fuzzy_shape(cust, ordered_dp=False).collect()}
    ordered = {tuple(r) for r in _fuzzy_shape(cust, ordered_dp=True).collect()}
    assert ordered == direct
    # the fixture exercised every arm: twin keys sharing a name (dist-0
    # pairs from the equal-name branch), both orientations of dist-1
    # neighbours, a dist-2 exclusion, and a lone single-member block
    assert any(d == 0 for *_ignore, d in direct)
    assert any(d == 1 for *_ignore, d in direct)
    assert (1, 4, "Customer#0000000001", "Customer#0000000013", 2) not in direct


def _containment_direct(docs):
    from dataengineering_londonhousingmap_spark.operators.dedup import (
        ngram_containment_pairs,
    )
    from dataengineering_londonhousingmap_spark.operators.util import materialize

    sh = char_shingles(docs, "doc_id", "text", w=8).transform(materialize)
    sig = minhash_signatures(sh, "doc_id")
    cand = lsh_candidate_pairs(sig, "doc_id")
    return ngram_containment_pairs(sh, "doc_id", threshold=0.3, candidates=cand)


def test_containment_quotient_matches_direct(spark):
    """r09b: q_containment's quotient (reps pipeline + expansion with
    literal-1.0 twin pairs) must reproduce the direct containment pair set
    bit-for-bit — twins contain each other at exactly s/min(s,s) = 1.0."""
    from dataengineering_londonhousingmap_spark.operators.util import materialize

    docs = _pair_corpus(spark)
    direct = {
        (r["id_a"], r["id_b"], round(r["containment"], 6))
        for r in _containment_direct(docs).collect()
    }
    reps, mapping = exact_dup_quotient(
        docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    mapping = mapping.materialize()
    rp = _containment_direct(reps).select(
        F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b"), "containment"
    )
    quot = {
        (r["id_a"], r["id_b"], round(r["containment"], 6))
        for r in quotient_expand_pairs(
            rp, mapping, "doc_id",
            payload_cols=["containment"],
            self_payload={"containment": F.lit(1.0)},
        ).collect()
    }
    assert quot == direct


# ---------------------------------------------------------------------------
# r10: arm selection (bypass / sparse / dense) — exact_dup_quotient picks the
# expansion strategy from exact counts; every arm must be output-identical.
# ---------------------------------------------------------------------------

import contextlib  # noqa: E402

from dataengineering_londonhousingmap_spark.operators import dedup  # noqa: E402

_ARMS = ("sparse", "dense")


@contextlib.contextmanager
def _forced_arm(monkeypatch, arm):
    """Run the block with twin-bearing inputs routed to ``arm``: "sparse"
    keeps the module's dup-member cap, "dense" lowers it to 0 so every
    input with a twin group takes the dense arm (twin-free inputs still
    bypass)."""
    with monkeypatch.context() as mp:
        if arm == "dense":
            mp.setattr(dedup, "_SPARSE_MAX_DUP_MEMBERS", 0)
        yield


def _twin_free_corpus(spark):
    """Near-dups and NULLs but NO exact twins — the shape of a curated
    vintage, where the bypass arm must fire."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base[:-1] + "x"),   # near-dup of 1 (cross-pair survives LSH)
        (3, "completely different content about spark catalyst optimizer plans"),
        (4, "short"),
        (5, None),
        (6, ""),
    ]
    return spark.createDataFrame(rows, _PAIR_SCHEMA)


def test_quotient_arm_selection(spark, monkeypatch):
    twin_free = _twin_free_corpus(spark)
    twin_heavy = _pair_corpus(spark)
    _, m1 = exact_dup_quotient(
        twin_free, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    assert m1.kind == "bypass" and m1.twin_free
    _, m2 = exact_dup_quotient(
        twin_heavy, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    assert m2.kind == "sparse"
    # exact-count gate: dup members above the cap → dense; a twin-free
    # input bypasses whatever the cap
    with _forced_arm(monkeypatch, "dense"):
        _, m3 = exact_dup_quotient(
            twin_heavy, "doc_id", F.md5("text"), F.col("text").isNotNull()
        )
        _, m4 = exact_dup_quotient(
            twin_free, "doc_id", F.md5("text"), F.col("text").isNotNull()
        )
    assert m3.kind == "dense"
    assert m4.kind == "bypass"


def test_bypass_arm_taken_and_matches_direct_on_twin_free_corpus(spark):
    """VERDICT r10 task 1's pin: on a twin-free fixture the bypass arm is
    taken (reps IS the input frame — no semi-join, no expansion joins in
    the plan) and the jaccard-verify output equals the direct path's."""
    docs = _twin_free_corpus(spark)
    reps, mapping = exact_dup_quotient(
        docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    assert mapping.twin_free
    assert reps is docs  # bypass returns the input frame itself
    direct = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in _jaccard_direct(docs).collect()
    }
    quot = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in _jaccard_quotient(docs).collect()
    }
    assert quot == direct and (1, 2) in direct
    # plan shape: the bypass expansion contributes NO joins — the quotient
    # plan has exactly the direct path's join count
    def _njoins(df):
        import re as _re
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return len(_re.findall(r"\bJoin\b", plan))
    assert _njoins(_jaccard_quotient(docs)) == _njoins(_jaccard_direct(docs))


def test_jaccard_quotient_matches_direct_on_every_arm(spark, monkeypatch):
    """The same twin-heavy corpus must produce the identical pair set under
    the sparse arm (the default here), the forced-dense arm (r09 shape),
    and the direct path."""
    docs = _pair_corpus(spark)
    direct = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in _jaccard_direct(docs).collect()
    }
    for arm in _ARMS:
        with _forced_arm(monkeypatch, arm):
            quot = {
                (r["id_a"], r["id_b"]): r["jaccard"]
                for r in _jaccard_quotient(docs).collect()
            }
        assert quot == direct, arm


# ---------------------------------------------------------------------------
# ADVICE r09: quotient-vs-direct equivalence for the two r09b conversions
# that only had reasoning + the external oracle — the agreement matrix
# (three payload columns through one expansion) and split-leakage
# (filter-after-expansion on original-id attributes).
# ---------------------------------------------------------------------------

from dataengineering_londonhousingmap_spark.functions.text import doc_fingerprint  # noqa: E402
from dataengineering_londonhousingmap_spark.operators.dedup import (  # noqa: E402
    ngram_containment_pairs,
)
from dataengineering_londonhousingmap_spark.operators.sampling import train_test_split  # noqa: E402
from dataengineering_londonhousingmap_spark.operators.util import materialize  # noqa: E402


def _agreement_frame(docs, quotient: bool):
    """Mirror of q_dedup_agreement's shape (queries.py): jaccard +
    containment + normalized-fingerprint exact, full-outer at rep level,
    one expansion with (1.0, 1.0, true) twin self-pairs."""
    if quotient:
        reps, mapping = exact_dup_quotient(
            docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
        )
        mapping = mapping.materialize()
    else:
        reps, mapping = docs, None
    sh = char_shingles(reps, "doc_id", "text", w=8).transform(materialize)
    sig = minhash_signatures(sh, "doc_id")
    cand = lsh_candidate_pairs(sig, "doc_id").transform(materialize)
    jac = ngram_jaccard_pairs(
        sh, "doc_id", threshold=0.2, candidates=cand, candidates_materialized=True
    ).select(
        F.col("id_a").alias("rep_a"),
        F.col("id_b").alias("rep_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )
    con = ngram_containment_pairs(
        sh, "doc_id", threshold=0.3, candidates=cand, candidates_materialized=True
    ).select(
        F.col("id_a").alias("rep_a"),
        F.col("id_b").alias("rep_b"),
        F.round("containment", 6).alias("containment"),
    )
    fp = reps.select("doc_id", doc_fingerprint("text").alias("__fp"))
    ex = (
        fp.alias("x")
        .join(fp.alias("y"), F.col("x.__fp") == F.col("y.__fp"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("rep_a"),
            F.col("y.doc_id").alias("rep_b"),
            F.lit(True).alias("exact"),
        )
    )
    rp = jac.join(con, ["rep_a", "rep_b"], "full_outer").join(
        ex, ["rep_a", "rep_b"], "full_outer"
    )
    if quotient:
        rp = quotient_expand_pairs(
            rp, mapping, "doc_id",
            payload_cols=["jaccard", "containment", "exact"],
            self_payload={
                "jaccard": F.lit(1.0),
                "containment": F.lit(1.0),
                "exact": F.lit(True),
            },
        )
    else:
        rp = rp.select(
            F.col("rep_a").alias("id_a"), F.col("rep_b").alias("id_b"),
            "jaccard", "containment", "exact",
        )
    return rp.select(
        "id_a", "id_b", "jaccard", "containment",
        F.col("jaccard").isNotNull().alias("by_jaccard"),
        F.col("containment").isNotNull().alias("by_containment"),
        F.coalesce(F.col("exact"), F.lit(False)).alias("by_exact"),
    )


def test_agreement_quotient_matches_direct(spark, monkeypatch):
    docs = _pair_corpus(spark)
    direct = {tuple(r) for r in _agreement_frame(docs, quotient=False).collect()}
    for arm in _ARMS:
        with _forced_arm(monkeypatch, arm):
            quot = {
                tuple(r) for r in _agreement_frame(docs, quotient=True).collect()
            }
        assert quot == direct, arm
    # the fixture exercised disagreement arms: some pair is jaccard-only or
    # containment-only, and twin self-pairs carry all three methods
    assert any(r[4] != r[5] or r[4] != r[6] for r in direct)
    assert (1, 2, 1.0, 1.0, True, True, True) in direct


def _leakage_frame(docs, quotient: bool):
    """Mirror of q_split_leakage's shape: near-dup pairs, then the
    opposite-split filter applied AFTER expansion on ORIGINAL ids (twins of
    one text can land on opposite sides)."""
    if quotient:
        reps, mapping = exact_dup_quotient(
            docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
        )
        mapping = mapping.materialize()
        sh = char_shingles(reps, "doc_id", "text", w=8).transform(materialize)
        sig = minhash_signatures(sh, "doc_id")
        cand = lsh_candidate_pairs(sig, "doc_id")
        rp = ngram_jaccard_pairs(
            sh, "doc_id", threshold=0.2, candidates=cand
        ).select(
            F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b"), "jaccard"
        )
        pairs = quotient_expand_pairs(
            rp, mapping, "doc_id",
            payload_cols=["jaccard"], self_payload={"jaccard": F.lit(1.0)},
        )
    else:
        sh = char_shingles(docs, "doc_id", "text", w=8).transform(materialize)
        sig = minhash_signatures(sh, "doc_id")
        cand = lsh_candidate_pairs(sig, "doc_id")
        pairs = ngram_jaccard_pairs(sh, "doc_id", threshold=0.2, candidates=cand)
    split = train_test_split(docs.select("doc_id"), "doc_id", test_rate=0.4).select(
        "doc_id", "split"
    )
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"),
            "split_a", "split_b",
        )
    )


def test_leakage_quotient_matches_direct(spark, monkeypatch):
    docs = _pair_corpus(spark)
    direct = {tuple(r) for r in _leakage_frame(docs, quotient=False).collect()}
    for arm in _ARMS:
        with _forced_arm(monkeypatch, arm):
            quot = {tuple(r) for r in _leakage_frame(docs, quotient=True).collect()}
        assert quot == direct, arm
    # the filter-after-expansion arm did real work: at least one surviving
    # pair comes from a twin GROUP whose members straddle the split (the
    # rep-level pair alone could not decide it)
    assert direct, "fixture produced no cross-split near-dup pairs"


def test_cluster_safe_split_never_straddles(spark):
    """r12 (X165): the cluster-aware split's whole contract — the split
    label is CONSTANT within every near-dup connected component, so no
    verified near-dup pair (and no exact twin, which shares its rep's
    component) can land astride the train/eval boundary. Checked against
    real sf0.001 components; non-vacuity: both labels occur and at least
    one multi-doc cluster exists."""
    from dataengineering_londonhousingmap_spark.queries import q_split_cluster_safe

    out = q_split_cluster_safe(spark, "/root/testdata/sf0.001")
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(
            F.countDistinct("split").alias("n_splits"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .collect()
    )
    assert per_cluster and all(r.n_splits == 1 for r in per_cluster)
    assert any(r.n_docs > 1 for r in per_cluster), "no multi-doc cluster"
    labels = {r.split for r in out.select("split").distinct().collect()}
    assert labels == {"train", "eval"}


def test_lsh_embed_quotient_matches_direct(spark):
    """r10: q_dedup_embed's quotient (the last un-quotiented embedding
    near-dup — 10× probe max ratio 9.7 before) must reproduce the direct
    hyperplane-LSH pair set bit-for-bit, including twin pairs (identical
    sketches collide in every table; cosine_similarity_batched(v, v) is
    the same bits the direct path computed) and excluding zero-vector
    twins (0/0 cosine never passes the threshold)."""
    from dataengineering_londonhousingmap_spark.functions.vectors import cosine_similarity_batched
    from dataengineering_londonhousingmap_spark.operators.similarity import (
        lsh_near_dup_candidates,
    )

    a = [1.0, 0.0, 0.0, 0.0]
    near_a = [0.9, 0.4, 0.0, 0.0]
    ortho = [0.0, 0.0, 1.0, 0.0]
    zero = [0.0, 0.0, 0.0, 0.0]
    rows = (
        [(i, a) for i in (1, 2, 3)]
        + [(i, near_a) for i in (10, 11)]
        + [(20, ortho), (21, ortho)]
        + [(30, zero), (31, zero)]
        + [(40, [0.0, 0.0, 0.0, 1.0])]
    )
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    emb = spark.createDataFrame(rows, schema)

    def direct():
        cand = lsh_near_dup_candidates(emb, num_tables=8, planes_per_table=8, dim=4)
        return embedding_near_dup(emb, threshold=0.42, candidates=cand).select(
            "id_a", "id_b", F.round("cosine", 6).alias("cosine")
        )

    def quotient():
        reps, mapping = exact_dup_quotient(
            emb, "vec_id",
            F.md5(F.col("embedding").cast("string")),
            F.exists(F.col("embedding"), lambda x: x != F.lit(0.0)),
        )
        mapping = mapping.materialize()
        cand = lsh_near_dup_candidates(reps, num_tables=8, planes_per_table=8, dim=4)
        rp = embedding_near_dup(reps, threshold=0.42, candidates=cand).select(
            F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b"), "cosine"
        )
        self_pairs = None
        if not mapping.twin_free:
            multi = mapping.multi_member_reps(reps, "vec_id")
            self_pairs = multi.select(
                F.col("vec_id").alias("rep_a"),
                F.col("vec_id").alias("rep_b"),
                cosine_similarity_batched(
                    F.col("embedding"), F.col("embedding")
                ).alias("cosine"),
            ).filter(F.col("cosine") >= 0.42)
        return quotient_expand_pairs(
            rp, mapping, "vec_id", payload_cols=["cosine"], self_pairs=self_pairs
        ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))

    d = {(r["id_a"], r["id_b"]): r["cosine"] for r in direct().collect()}
    q = {(r["id_a"], r["id_b"]): r["cosine"] for r in quotient().collect()}
    assert q == d
    # fixture exercised the arms: twin pairs found (cosine 1.0), zero
    # twins excluded, at least one cross-group near-dup pair survived LSH
    assert d[(1, 2)] == 1.0 and (30, 31) not in d
    assert any(x != y and v < 1.0 for (x, y), v in d.items())


# ---------------------------------------------------------------------------
# r11: substring-level dedup (q_dedup_substring's operator) — quotient vs a
# hand-rolled direct path, every arm, including the boilerplate cut whose
# frequency must count DISTINCT TEXTS (twins must not promote a span).
# ---------------------------------------------------------------------------

from dataengineering_londonhousingmap_spark.operators.dedup import (  # noqa: E402
    selected_windows,
    substring_dedup_pairs,
)


def _substring_corpus(spark):
    shared = "this exact passage is repeated verbatim across several long documents"
    boiler = "COMMON FOOTER boilerplate chrome shared by far too many documents!"
    rows = (
        # twins carrying a shared span (self-pair arm + cross-group pairs)
        [(1, "alpha intro " + shared + " tail one"),
         (2, "alpha intro " + shared + " tail one"),
         (3, "совершенно different head § " + shared + " other ending here")]
        # unrelated long doc: no pairs
        + [(4, "no overlap content about catalyst plans and shuffles at all")]
        # NULL twins: no windows, no pairs
        + [(5, None), (6, None)]
        # short-text twins: whole text is the single window IF selected
        + [(7, "short"), (8, "short")]
        # boilerplate: the same footer in 5 DISTINCT texts — its interior
        # windows exceed the cap and must be cut BEFORE the pair join
        + [(100 + i, f"doc {i} unique preamble … {boiler} … unique coda {i}")
           for i in range(5)]
    )
    return spark.createDataFrame(rows, _PAIR_SCHEMA)


def _substring_direct(docs, w, mod, cap):
    """Direct path on raw documents: selection per doc, boilerplate
    frequency = count of DISTINCT TEXTS per window (via join-back to the
    doc table), pair join, count shared kept windows."""
    wins = selected_windows(docs, "doc_id", "text", w=w, mod=mod)
    wtext = wins.join(docs, "doc_id").select("win", "text").distinct()
    kept_wins = (
        wtext.groupBy("win")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= cap)
        .select("win")
    )
    wk = wins.join(kept_wins, "win")
    a = wk.select(F.col("doc_id").alias("id_a"), "win")
    b = wk.select(F.col("doc_id").alias("id_b"), "win")
    return (
        a.join(b, "win")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )


def test_substring_quotient_matches_direct_on_every_arm(spark, monkeypatch):
    docs = _substring_corpus(spark)
    w, mod, cap = 8, 2, 3
    direct = {
        (r["id_a"], r["id_b"]): r["shared_windows"]
        for r in _substring_direct(docs, w, mod, cap).collect()
    }
    for arm in _ARMS:
        with _forced_arm(monkeypatch, arm):
            quot = {
                (r["id_a"], r["id_b"]): r["shared_windows"]
                for r in substring_dedup_pairs(
                    docs, "doc_id", "text", w=w, mod=mod, max_texts=cap
                ).collect()
            }
        assert quot == direct, arm
    # the fixture exercised what it claims: the twin self-pair, the
    # twin-to-near-dup cross pair, and NO pair among the 5 boilerplate
    # carriers (their only shared windows exceed the cap and were cut);
    # NULL twins contribute nothing
    assert (1, 2) in direct and (1, 3) in direct and (2, 3) in direct
    assert not any(a >= 100 and b >= 100 for a, b in direct)
    assert (5, 6) not in direct
    # shared_windows of the twin pair equals the rep's own kept windows
    assert direct[(1, 2)] >= direct[(1, 3)]


def test_substring_bypass_arm_on_twin_free_corpus(spark):
    rows = [
        (1, "a long document sharing one exact passage with its sibling doc"),
        (2, "prefix text then: a long document sharing one exact passage --"),
        (3, "completely unrelated content with nothing in common whatsoever"),
    ]
    docs = spark.createDataFrame(rows, _PAIR_SCHEMA)
    direct = {
        (r["id_a"], r["id_b"]): r["shared_windows"]
        for r in _substring_direct(docs, 8, 2, 64).collect()
    }
    quot = {
        (r["id_a"], r["id_b"]): r["shared_windows"]
        for r in substring_dedup_pairs(
            docs, "doc_id", "text", w=8, mod=2, max_texts=64
        ).collect()
    }
    assert quot == direct and len(direct) > 0


def test_excise_spans_rescan_finds_zero_flagged_windows(spark, monkeypatch):
    """VERDICT r11 task 3's pin — the full curation chain: boilerplate
    report → span excision → RE-SCAN of the rewritten corpus must find
    none of the originally-flagged windows, on every quotient arm."""
    from dataengineering_londonhousingmap_spark.operators.dedup import excise_spans

    docs = _substring_corpus(spark)
    w, mod = 8, 2
    # the q_boilerplate_spans report at this (w, mod): flagged = selected
    # windows carried by >= 2 distinct texts
    wins = selected_windows(docs, "doc_id", "text", w=w, mod=mod)
    wtext = wins.join(docs, "doc_id").select("win", "text").distinct()
    flagged = {
        r["win"]
        for r in wtext.groupBy("win")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .collect()
    }
    assert flagged, "fixture produced no flagged cross-text spans"

    results = {}
    for arm in _ARMS:
        with _forced_arm(monkeypatch, arm):
            results[arm] = {
                r["doc_id"]: (r["n_flagged_spans"], r["clean_text"])
                for r in excise_spans(
                    docs, "doc_id", "text", w=w, mod=mod, min_texts=2
                ).collect()
            }
    assert results["sparse"] == results["dense"]
    out = results["dense"]

    # every input doc comes back exactly once (NULL texts included)
    assert set(out) == {1, 2, 3, 4, 5, 6, 7, 8, 100, 101, 102, 103, 104}
    # docs carrying no flagged span pass through unchanged
    assert out[4] == (0, "no overlap content about catalyst plans and shuffles at all")
    assert out[5] == (0, None) and out[6] == (0, None)
    # twins are rewritten identically, and the shared passage is gone
    assert out[1] == out[2] and out[1][0] > 0
    assert "repeated verbatim" not in out[1][1]
    # boilerplate footer cut from all five carriers
    for d in (100, 101, 102, 103, 104):
        assert "COMMON FOOTER" not in out[d][1]

    # THE RE-SCAN: no originally-flagged window survives in the rewritten
    # corpus (selection is content-defined, so a surviving span would
    # re-select its window)
    clean = spark.createDataFrame(
        [(d, t) for d, (_, t) in out.items()], _PAIR_SCHEMA
    )
    rescan = {
        r["win"]
        for r in selected_windows(clean, "doc_id", "text", w=w, mod=mod).collect()
    }
    assert not (rescan & flagged)


# ---------------------------------------------------------------------------
# r13: exact_dup_quotient_multi — the fused two-sided driver-job shape must
# pick the identical arms and produce the identical (reps, mapping) results
# as calling exact_dup_quotient once per input.
# ---------------------------------------------------------------------------

from dataengineering_londonhousingmap_spark.operators.dedup import exact_dup_quotient_multi  # noqa: E402


def _mapping_signature(reps, mapping, id_col):
    """Everything observable about one quotient result: the rep id set,
    the arm, and the full expansion (covers members_df/df)."""
    rep_ids = sorted(r[id_col] for r in reps.select(id_col).collect())
    expanded = sorted(
        r[id_col] for r in mapping.expand(reps.select(id_col), id_col).collect()
    )
    return (rep_ids, mapping.kind, expanded)


def test_quotient_multi_matches_per_side_calls(spark):
    """Two-sided fused call (q_decontaminate / q_dedup_incremental shape):
    arms and expansions identical to two independent calls, including a
    MIXED-arm split (one side twin-free → bypass, one side twin-heavy →
    sparse)."""
    docs = _pair_corpus(spark)
    side_a = docs.filter(F.col("doc_id") % 2 == 0)
    side_b = docs.filter(F.col("doc_id") % 2 == 1)
    fused = exact_dup_quotient_multi([
        (side_a, "doc_id", F.md5("text"), F.col("text").isNotNull()),
        (side_b, "doc_id", F.md5("text"), F.col("text").isNotNull()),
    ])
    solo = [
        exact_dup_quotient(s, "doc_id", F.md5("text"), F.col("text").isNotNull())
        for s in (side_a, side_b)
    ]
    for (fr, fm), (sr, sm) in zip(fused, solo):
        assert _mapping_signature(fr, fm, "doc_id") == _mapping_signature(
            sr, sm, "doc_id"
        )
    # the fixture split actually exercises both sparse sides with members
    assert fused[0][1].kind == "sparse" and fused[1][1].kind == "sparse"

    # mixed arms: a twin-free side rides bypass while the other is sparse
    twin_free = spark.createDataFrame(
        [(100, "alpha doc"), (101, "beta doc"), (102, None)], _PAIR_SCHEMA
    )
    mixed = exact_dup_quotient_multi([
        (twin_free, "doc_id", F.md5("text"), F.col("text").isNotNull()),
        (docs, "doc_id", F.md5("text"), F.col("text").isNotNull()),
    ])
    assert mixed[0][1].kind == "bypass"
    assert mixed[0][0] is twin_free  # bypass returns the input frame itself
    assert mixed[1][1].kind == "sparse"
    solo_heavy = exact_dup_quotient(
        docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    assert _mapping_signature(*mixed[1], "doc_id") == _mapping_signature(
        *solo_heavy, "doc_id"
    )


def test_quotient_multi_mixed_id_types_collect_per_bucket(spark):
    """Sparse sides whose id types differ cannot share a union schema —
    the per-type-bucket path must still produce identical results."""
    long_docs = _pair_corpus(spark)
    str_schema = StructType(
        [StructField("k", StringType()), StructField("text", StringType())]
    )
    str_docs = spark.createDataFrame(
        [("a", "dup text"), ("b", "dup text"), ("c", "other text")], str_schema
    )
    fused = exact_dup_quotient_multi([
        (long_docs, "doc_id", F.md5("text"), F.col("text").isNotNull()),
        (str_docs, "k", F.md5("text"), F.col("text").isNotNull()),
    ])
    assert fused[0][1].kind == "sparse" and fused[1][1].kind == "sparse"
    assert _members(fused[1][1]) == {"a": ["a", "b"]}
    solo = exact_dup_quotient(
        long_docs, "doc_id", F.md5("text"), F.col("text").isNotNull()
    )
    assert _mapping_signature(*fused[0], "doc_id") == _mapping_signature(
        *solo, "doc_id"
    )


def test_quotient_multi_null_id_raises_with_side_attribution(spark):
    """The NULL-id precondition survives the fusion: a NULL id on EITHER
    side raises, naming that side's id column."""
    import pytest

    good = _pair_corpus(spark)
    bad = spark.createDataFrame(
        [(None, "x"), (2, "x")],
        StructType([StructField("other_id", LongType()), StructField("text", StringType())]),
    )
    with pytest.raises(ValueError, match="other_id"):
        exact_dup_quotient_multi([
            (good, "doc_id", F.md5("text"), F.col("text").isNotNull()),
            (bad, "other_id", F.md5("text"), F.col("text").isNotNull()),
        ])
