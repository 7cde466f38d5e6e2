"""Similarity search over embedding columns (``array<float>``).

Two physical shapes:

* :func:`ann_topk_bruteforce` — exact top-k by cosine: corpus ⨯ broadcast
  query set, higher-order-function dot products (all JVM-side), per-query
  window rank. Exact; scan cost O(corpus × queries). The correctness
  baseline, and the right plan whenever queries are few (the broadcast side)
  — at 100 TB the corpus scan is embarrassingly parallel and never shuffles
  the big side.
* :func:`ann_topk_lsh` — multi-table random-hyperplane LSH: L independent
  tables of k sign bits each; candidates = union over tables of same-bucket
  pairs (OR-amplification: recall ≈ 1-(1-p^k)^L where p is the per-plane
  collision probability); exact rerank over candidates. Turns the all-pairs
  scan into an equi-join on (table, bucket). Approximate: recall < 1 by
  design (the driver records rows-only checks for it; the bruteforce
  variant is the oracle-exact one). k trades candidate volume against
  recall; L buys recall back at linear cost — at 100 TB you tune k to the
  corpus's angular clustering and keep L modest.

Projection vectors for LSH are derived deterministically from md5 bytes — no
RNG, reproducible across engines and runs.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import (
    cosine_similarity_batched,
    dot_product,
    l2_norm,
)
from .util import fan_out, local_relation, materialize


def _query_frame(queries: DataFrame, query_id: str, query_vec: str) -> DataFrame:
    return queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
    )


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Returns
    (query_id, match_id, cosine, rank); ties broken by match_id ascending
    (deterministic — required for oracle-exact comparison)."""
    # norms folded once per vector on each side (same bit-identical-factor
    # argument as embedding_near_dup): each corpus×query pair costs one
    # interpreted fold, not three
    q = F.broadcast(
        _query_frame(queries, query_id, query_vec).withColumn(
            "__qn", l2_norm(F.col("__qvec"))
        )
    )
    # |corpus|×|queries| dot products happen before the first shuffle —
    # spread a narrow corpus scan across cores first
    corpus_n = fan_out(corpus).withColumn("__cn", l2_norm(F.col(vec_col)))
    joined = corpus_n.crossJoin(q).filter(F.col(id_col) != F.col("query_id"))  # null-audited: embedding ids are non-null (pinned vintage invariant); a NULL id could never be a query anchor
    denom = F.col("__cn") * F.col("__qn")
    scored = joined.select(
        F.col("query_id"),
        F.col(id_col).alias("match_id"),
        F.when(denom > 0, dot_product(F.col(vec_col), F.col("__qvec")) / denom).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id").asc())
    # rank as BIGINT: row_number() is int32 in Spark but SQL engines emit
    # BIGINT — the catalog-wide width convention (oracle_harness is
    # int-width strict)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from md5 bytes."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"plane{plane}|{i}".encode()).digest()
        for off in range(0, 16, 2):
            u = int.from_bytes(h[off : off + 2], "big") / 65535.0  # [0,1]
            vals.append(2.0 * u - 1.0)
            if len(vals) == dim:
                break
        i += 1
    norm = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / norm for v in vals]


def _with_table_buckets(
    df: DataFrame,
    vec_col: str,
    num_tables: int,
    planes_per_table: int,
    dim: int,
) -> DataFrame:
    """Adds exploded (``__t``, ``__b``) hash-table/bucket columns via ONE
    BLAS matmul per Arrow batch.

    Spark's higher-order ``aggregate``/``zip_with`` lambdas are interpreted
    per element — num_tables × planes × dim evals per row makes the sketch
    the bottleneck, not the join. The numpy path computes every plane dot for
    a batch as (n × dim) @ (dim × planes) in one call (~20× faster here).
    """
    planes = np.array(
        [
            _hyperplane(t * 1000 + j, dim)
            for t in range(num_tables)
            for j in range(planes_per_table)
        ],
        dtype=np.float64,
    )  # (T*k) × dim
    weights = 2 ** np.arange(planes_per_table, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy())  # n × dim (float32 → float64 matmul)
        bits = (M.astype(np.float64) @ planes.T) >= 0  # n × (T*k)
        per_table = bits.reshape(len(M), num_tables, planes_per_table)
        b = (per_table * weights).sum(axis=2)  # n × T
        return pd.Series(list(b))

    return df.withColumn("__bs", buckets(F.col(vec_col))).select(
        "*", F.posexplode("__bs").alias("__t", "__b")
    ).drop("__bs")


# the sketch family every caller uses: 8 tables of 4 sign bits over the
# 64-dim embeddings; ann_topk_lsh keeps the top 5
_NUM_TABLES = 8
_PLANES_PER_TABLE = 4
_DIM = 64
_ANN_K = 5


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-5: explode both sides into per-table buckets,
    equi-join on (table, bucket), exact rerank over the deduped candidate
    union. Expected recall for per-plane collision prob p:
    1 - (1 - p^4)^8.
    """
    c = _with_table_buckets(
        fan_out(corpus).select(F.col(id_col), F.col(vec_col)),
        vec_col, _NUM_TABLES, _PLANES_PER_TABLE, _DIM,
    )
    q = _with_table_buckets(
        queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")),
        "__qvec", _NUM_TABLES, _PLANES_PER_TABLE, _DIM,
    )
    joined = c.join(q, ["__t", "__b"]).filter(F.col(id_col) != F.col("query_id"))  # null-audited: embedding ids are non-null (pinned vintage invariant); a NULL id could never be a query anchor
    scored = (
        joined.select("query_id", F.col(id_col).alias("match_id"), "__qvec", F.col(vec_col))
        .dropDuplicates(["query_id", "match_id"])
        .select(
            "query_id",
            "match_id",
            cosine_similarity_batched(F.col(vec_col), F.col("__qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ANN_K)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine ≥ threshold.

    Without ``candidates`` this is the exact all-pairs self-join (broadcast
    right side) — the oracle-exact baseline, quadratic, only for corpora that
    fit a broadcast. At scale you ALWAYS pass a candidate-pair frame (e.g.
    :func:`lsh_near_dup_candidates`): the plan becomes two equi-joins to
    fetch vectors plus a per-pair cosine — linear in |candidates|.
    """
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    if candidates is not None:
        # scale path: equi-joins + one numpy matmul per Arrow batch
        pairs = candidates.join(a, "id_a").join(b, "id_b")
        cos = cosine_similarity_batched(F.col("__va"), F.col("__vb"))
    else:
        # exact baseline: sequential-fold cosine (bit-stable vs the SQL
        # oracle). Norms are folded once per VECTOR before the cross join —
        # each pair then costs one interpreted fold (the a·b dot), not
        # three; na·nb is the identical double product the per-pair form
        # computed, so results stay bit-identical.
        an = a.withColumn("__na", l2_norm(F.col("__va")))
        bn = b.withColumn("__nb", l2_norm(F.col("__vb")))
        pairs = fan_out(an).crossJoin(F.broadcast(bn)).filter(F.col("id_a") < F.col("id_b"))
        denom = F.col("__na") * F.col("__nb")
        cos = F.when(denom > 0, dot_product(F.col("__va"), F.col("__vb")) / denom)
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def lsh_near_dup_candidates(
    corpus: DataFrame,
    num_tables: int = _NUM_TABLES,
    planes_per_table: int = _PLANES_PER_TABLE,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for embedding near-dup via multi-table
    hyperplane LSH self-join — same sketch family as :func:`ann_topk_lsh`,
    joined corpus-to-corpus on (table, bucket). Distinct pairs, id_a < id_b.
    """
    sketched = _with_table_buckets(
        fan_out(corpus).select(F.col(id_col), F.col(vec_col)),
        vec_col, num_tables, planes_per_table, dim,
    ).select(F.col(id_col), "__t", "__b")
    # the sketch subtree feeds BOTH sides of the self-join; without a cut
    # Spark replays the Arrow-batch matmul twice (aliases differ, so no
    # ReusedExchange). localCheckpoint, not persist: checkpoint blocks are
    # ContextCleaner-freed once the returned plan is GC'd.
    sketched = sketched.transform(materialize)
    a = sketched.select(F.col(id_col).alias("id_a"), "__t", "__b")
    b = sketched.select(F.col(id_col).alias("id_b"), "__t", "__b")
    return (
        a.join(b, ["__t", "__b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def train_ivf_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd's k-means for IVF centroids — the iterative-algorithm pattern
    done Spark-style: a DRIVER loop where each iteration is one distributed
    assignment (cross join against ≤k broadcast centroids, min-struct) plus
    one element-wise mean aggregation (posexplode → groupBy(cluster, dim)).
    Only the k×dim centroid matrix is ever collected; the corpus never
    leaves the executors, so iterations scale with corpus size, not driver
    memory. Deterministic: md5-ordered seeding, no RNG.

    Empty clusters keep their previous centroid (standard Lloyd fix).
    Returns the centroid list (row i = centroid i).
    """
    seed_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in seed_rows]

    spark = corpus.sparkSession
    for _ in range(iters):
        cent_df = F.broadcast(
            local_relation(
                spark,
                [(i, c) for i, c in enumerate(centroids)],
                T.StructType([
                    T.StructField("__cid", T.IntegerType()),
                    T.StructField("__cvec", T.ArrayType(T.DoubleType())),
                ]),
            )
        )
        assigned = (
            fan_out(corpus.select(F.col(id_col), F.col(vec_col)))
            .crossJoin(cent_df)
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.col("__cid"),
                (-cosine_similarity_batched(F.col(vec_col), F.col("__cvec"))).alias("__neg"),
            )
            .groupBy(id_col, vec_col)
            .agg(F.min(F.struct("__neg", "__cid")).alias("__m"))
            .select(F.col(vec_col), F.col("__m.__cid").alias("__cid"))
        )
        means = (
            assigned.select("__cid", F.posexplode(vec_col).alias("__d", "__x"))
            .groupBy("__cid", "__d")
            .agg(F.avg("__x").alias("__mu"))
            .collect()  # ≤ k×dim rows — the only driver-side data
        )
        new = [list(c) for c in centroids]  # empty clusters keep old centroid
        by_cid: dict[int, list[float]] = {}
        for r in means:
            by_cid.setdefault(r["__cid"], [0.0] * _DIM)[r["__d"]] = r["__mu"]
        for cid, vec in by_cid.items():
            new[cid] = vec
        centroids = new
    return centroids


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted lists
    by nearest centroid, probe only the ``n_probe`` lists nearest each query,
    exact-rerank inside them.

    Default centroid selection is deterministic (the ``n_centroids`` vectors
    with smallest md5 of their id — a uniform pseudo-random sample,
    reproducible across runs/engines); pass ``centroids`` from
    :func:`train_ivf_centroids` for the k-means-trained index — same plan
    shape, better list balance. The centroid table is tiny → broadcast;
    corpus assignment is one narrow scan + min-struct; the probe join is an
    equi-join on centroid id. The corpus is never shuffled all-pairs —
    candidate volume ≈ (n_probe/n_centroids) × |corpus| per query.
    Approximate: recall < 1 (rows-only correctness check; bruteforce is the
    exact twin).
    """
    if centroids is not None:
        cent = local_relation(
            corpus.sparkSession,
            [(i + 1, c) for i, c in enumerate(centroids)],
            T.StructType([
                T.StructField("__cid", T.IntegerType()),
                T.StructField("__cvec", T.ArrayType(T.DoubleType())),
            ]),
        )
    else:
        cent = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .orderBy(F.md5(F.col(id_col).cast("string")))
            .limit(n_centroids)
            .select(
                F.row_number().over(Window.orderBy(F.md5(F.col(id_col).cast("string")))).alias("__cid"),
                F.col(vec_col).alias("__cvec"),
            )
            # n_centroids rows atop a full corpus scan, consumed by BOTH
            # the assignment and the probe broadcasts — seed once
            .transform(materialize)
        )
    cent = F.broadcast(cent)

    # inverted-list assignment: nearest centroid by cosine (min-struct on
    # negated similarity → map-side partial agg, no window sort)
    assigned = (
        fan_out(corpus.select(F.col(id_col), F.col(vec_col)))
        .crossJoin(cent)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__cid"),
            (-cosine_similarity_batched(F.col(vec_col), F.col("__cvec"))).alias("__negsim"),
        )
        .groupBy(id_col, vec_col)
        .agg(F.min(F.struct("__negsim", "__cid")).alias("__m"))
        .select(F.col(id_col), F.col(vec_col), F.col("__m.__cid").alias("__cid"))
    )

    # each query probes its n_probe nearest lists
    q = queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec"))
    probes = (
        q.crossJoin(cent)
        .select(
            "query_id",
            "__qvec",
            "__cid",
            cosine_similarity_batched(F.col("__qvec"), F.col("__cvec")).alias("__sim"),
        )
        .withColumn(
            "__pr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("__cid"))
            ),
        )
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "__qvec", "__cid")
    )

    scored = (
        assigned.join(probes, "__cid")
        .filter(F.col(id_col) != F.col("query_id"))  # null-audited: embedding ids are non-null (pinned vintage invariant); a NULL id could never be a query anchor
        .select(
            "query_id",
            F.col(id_col).alias("match_id"),
            cosine_similarity_batched(F.col(vec_col), F.col("__qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )
