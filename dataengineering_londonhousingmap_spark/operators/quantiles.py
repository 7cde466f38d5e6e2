"""Scale-safe EXACT percentiles: sketch-bracketed order-statistic refinement.

Spark's exact ``percentile`` aggregate buffers every value of a group in the
aggregation buffer — at 100 TB with a handful of groups that is a straight
OOM (VERDICT r02). This module computes the same exact interpolated
percentile with bounded state:

1. One aggregation pass computes the exact group count plus
   ``percentile_approx`` (Greenwald-Khanna sketch, deterministic rank error
   ≤ n/_ACCURACY) at p ± 1 % — a VALUE bracket guaranteed to contain the
   k-th and (k+1)-th order statistics for any group with ≥ ~120 rows
   (margin 0.01 ≫ sketch error 1e-4). Groups smaller than 1 000 rows fall
   back to their [min, max] — trivially correct and trivially small.
2. The fact is filtered to the bracket — ~2 % of each group — and only that
   slice is ranked (per-group window over the slice); global rank = rows
   strictly below the bracket (one fixed-state count) + rank in slice.
3. Linear interpolation ``v_k·(1-d) + v_{k+1}·d`` (d = p(n-1) - k) — the same
   formula Spark ``percentile`` and DuckDB ``quantile_cont`` use (parity
   pinned by q_percentiles), computed on the same doubles, so results are
   oracle-exact.

Cost: two scans + one shuffle of the ~2 % slice. State: one GK sketch per
group (KB), never the group's values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import materialize

_SMALL_GROUP = 1_000  # below this, [min, max] is the bracket (exact, tiny)
_MARGIN = 0.01
# sizes only the GK bracket sketch, never the result (the in-bracket
# refinement is exact): correctness needs sketch rank error 1/_ACCURACY ≤
# _MARGIN, so 2 000 carries a 20× safety factor while the sketch merge
# costs ~20 % less wall than 10 000 (bit-equality vs Spark ``percentile``
# holds down to 500, unit-tested)
_ACCURACY = 2_000


def exact_percentiles_scalable(
    df: DataFrame, group_col: str, value_col: str, ps: list[float]
) -> DataFrame:
    """Exact interpolated percentile per group for each p in ``ps``,
    without per-group value buffering. Returns one row per group:
    (group_col, p_0, p_1, ...) in ``ps`` order.

    The result is lazy: a caller that feeds it to several plans cuts it
    with ``materialize`` at the call site (q_outlier_mad's median), so
    single-consumer callers pay no eager job for it.
    """
    v = F.col(value_col)
    narrow = df.select(group_col, value_col)
    aggs = [
        F.count(value_col).alias("__n"),
        F.min(value_col).alias("__min"),
        F.max(value_col).alias("__max"),
    ]
    for i, p in enumerate(ps):
        aggs.append(
            F.percentile_approx(
                value_col, max(p - _MARGIN, 0.0), _ACCURACY
            ).alias(f"__slo{i}")
        )
        aggs.append(
            F.percentile_approx(
                value_col, min(p + _MARGIN, 1.0), _ACCURACY
            ).alias(f"__shi{i}")
        )
    br = narrow.groupBy(group_col).agg(*aggs)
    small = F.col("__n") < _SMALL_GROUP
    # PER-P brackets (r12 opt). The previous shape folded every p's bracket
    # into ONE [least(slo), greatest(shi)] band, so spread percentiles made
    # the "2 % slice" a near-full sort: q_winsorize's [0.05, 0.95] ranked
    # ~92 % of the fact inside |groups| window partitions (3 tasks at
    # sf0.1, measured ~0.9 s of its 2.5 s wall — and the same near-full
    # sort at 100 TB). Per-p slices rank only each p's own ~2 % band,
    # partitioned by (group, p-index): ~4 % of rows shuffle instead of
    # ~92 %, with len(ps)× the window parallelism (guide §2.3/§2.5).
    # Exactness per p is the same argument as before — the shared bracket
    # only ever WIDENED the designed per-p guarantee.
    bracket_cols = []
    for i in range(len(ps)):
        bracket_cols.append(
            F.when(small, F.col("__min")).otherwise(F.col(f"__slo{i}")).alias(f"__lo{i}")
        )
        bracket_cols.append(
            F.when(small, F.col("__max")).otherwise(F.col(f"__shi{i}")).alias(f"__hi{i}")
        )
    # br is groups-sized (KBs) but its child is the FULL input aggregation;
    # it feeds fact (→ below, ranked) and the final select, so without a cut
    # the input is re-aggregated once per consumer — and when the input df is
    # itself derived from another percentile pass (the MAD composition), the
    # replay multiplies into a 36-scan plan. Materialize once.
    br = F.broadcast(
        br.select(group_col, "__n", *bracket_cols).transform(materialize)
    )

    fact = narrow.join(br, group_col)
    # per-p strictly-below counts in ONE pass over the fact (a NULL value
    # passes no comparison, matching the old filter+count semantics)
    below = fact.groupBy(group_col).agg(
        *[
            F.sum(F.when(v < F.col(f"__lo{i}"), 1).otherwise(0)).alias(f"__below{i}")
            for i in range(len(ps))
        ]
    )
    # each row explodes into the p-indexes whose bracket contains it
    # (usually ≤ 1; overlapping brackets rank independently per p).
    # Single-p callers (the MAD medians) skip the membership array +
    # Generate entirely — a plain bracket filter is the same row set with
    # less per-row work (r12 opt; __pi degenerates to a constant).
    if len(ps) == 1:
        sliced = fact.filter(
            (v >= F.col("__lo0")) & (v <= F.col("__hi0"))
        ).select(group_col, value_col, F.col("__n"), F.lit(0).alias("__pi"))
    else:
        memberships = F.array_compact(
            F.array(
                *[
                    F.when(
                        (v >= F.col(f"__lo{i}")) & (v <= F.col(f"__hi{i}")), F.lit(i)
                    )
                    for i in range(len(ps))
                ]
            )
        )
        sliced = fact.select(
            group_col, value_col, F.col("__n"), F.explode(memberships).alias("__pi")
        )
    w = Window.partitionBy(group_col, "__pi").orderBy(v.asc())
    below_for_pi = F.coalesce(
        *[
            F.when(F.col("__pi") == i, F.col(f"__below{i}"))
            for i in range(len(ps))
        ]
    ) if len(ps) > 1 else F.col("__below0")
    ranked = (
        sliced.withColumn("__r", F.row_number().over(w))
        .join(F.broadcast(below), group_col, "left")
        .select(
            group_col,
            value_col,
            F.col("__n"),
            F.col("__pi"),
            (F.col("__r") + F.coalesce(below_for_pi, F.lit(0)) - 1).alias("__k"),
        )
    )

    # ONE aggregation extracts the k-th / (k+1)-th order statistics for every
    # requested p — min-when aggregates are independent, so per-p filter+agg
    # rounds (which each replayed the slice's rank-window subtree) collapse
    # into a single pass over the slice.
    pick_aggs = []
    for i, p in enumerate(ps):
        # 0-based target position, identical arithmetic to quantile_cont
        kpos = F.floor(F.lit(p) * (F.col("__n") - 1).cast("double"))
        in_p = F.col("__pi") == i
        pick_aggs.append(
            F.min(F.when(in_p & (F.col("__k") == kpos), v)).alias(f"__vk{i}")
        )
        pick_aggs.append(
            F.min(F.when(in_p & (F.col("__k") == kpos + 1), v)).alias(f"__vk1{i}")
        )
    picks = ranked.groupBy(group_col).agg(*pick_aggs)

    out = br.select(group_col, "__n").join(F.broadcast(picks), group_col, "left")
    for i, p in enumerate(ps):
        kpos = F.floor(F.lit(p) * (F.col("__n") - 1).cast("double")).cast("long")
        pos = F.lit(p) * (F.col("__n") - 1).cast("double")
        d = pos - kpos.cast("double")
        # Spark Percentile.scala interpolates as lower·(1−d) + higher·d —
        # NOT lower + d·(higher−lower); the forms differ in the last ulp
        out = out.withColumn(
            f"p_{i}",
            F.col(f"__vk{i}") * (F.lit(1.0) - d)
            + F.coalesce(F.col(f"__vk1{i}"), F.col(f"__vk{i}")) * d,
        )
    return out.select(group_col, *[f"p_{i}" for i in range(len(ps))])
