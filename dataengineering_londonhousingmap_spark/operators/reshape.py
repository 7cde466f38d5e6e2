"""Reshape operators (SURVEY.md §2.7) — pivot/unpivot/flatten/sessionize.

These are the most "engine-like" transforms in the reference: dummy-encoding
of delimited zone/line strings (google_maps_api.ipynb:175, 485-492), melt back
to long form (ipynb:368, 575), nested-JSON flatten (pipeline .py:734-742), and
the marker-sessionization generator (ipynb:426-439). All become declarative
plans: explode+pivot, unpivot, explode of typed structs, and a windowed
running sum over position.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import LONDONAIR_PAYLOAD


def onehot_pivot(df: DataFrame, key: str, list_col: str, sep: str, value_prefix: str = "") -> DataFrame:
    """R1/R2 — ``str.get_dummies(sep)``: a delimited multi-value string
    column becomes Yes/No columns, one per distinct value.

    Reference: zones ``"1,2"`` (google_maps_api.ipynb:175), tube lines
    ``";"``-joined (ipynb:485-492). Spark shape: split → explode → pivot.
    Pivot triggers a distinct-values scan unless values are supplied —
    fine for dimension-sized inputs, and the serving path only pivots dims.
    """
    exploded = df.select(
        F.col(key),
        F.explode(F.split(F.col(list_col), sep)).alias("__v"),
    ).withColumn("__v", F.concat(F.lit(value_prefix), F.trim(F.col("__v"))))
    pivoted = exploded.groupBy(key).pivot("__v").agg(F.lit("Yes"))
    # fill AFTER the join: rows whose list_col was NULL never exploded, so
    # their dummy cells arrive NULL from the left join — the reference's
    # get_dummies semantics give them 'No', not NULL
    dummy_cols = [c for c in pivoted.columns if c != key]
    return (
        df.drop(list_col)
        .join(pivoted, key, "left")
        .na.fill("No", subset=dummy_cols)
    )


def unpivot_yesno(
    df: DataFrame,
    ids: list[str],
    value_cols: list[str],
    var_name: str,
    value_name: str,
) -> DataFrame:
    """R3 — melt wide Yes/No columns back to long, keeping only the
    ``value_name == "Yes"`` rows (the filter the reference applies right
    after each melt, google_maps_api.ipynb:368-370, 575)."""
    return df.unpivot(ids, value_cols, var_name, value_name).filter(
        F.col(value_name) == "Yes"
    )


def flatten_londonair_payload(payloads: DataFrame, json_col: str = "payload") -> DataFrame:
    """R4/S3 — nested LondonAir JSON → flat hourly rows.

    Reference: pipeline .py:726-749 walks ``AirQualityData.Data[]`` with
    ``np.column_stack``; here it's ``from_json`` + ``explode`` + projection,
    with the reference's empty-string→0 value coercion (.py:747).
    """
    parsed = payloads.select(F.from_json(F.col(json_col), LONDONAIR_PAYLOAD).alias("p"))
    rows = parsed.select(
        F.col("p.AirQualityData.@SiteCode").alias("site_code"),
        F.explode(F.col("p.AirQualityData.Data")).alias("d"),
    )
    return rows.select(
        "site_code",
        F.to_timestamp(F.col("d.@MeasurementDateGMT")).alias("measurement_date_gmt"),
        F.col("d.@SpeciesCode").alias("species_code"),
        F.when(F.col("d.@Value") == "", 0.0)
        .otherwise(F.col("d.@Value").cast("double"))
        .alias("value"),
    )


def sessionize_by_marker(
    df: DataFrame,
    order_col: str,
    marker_col,
    session_name: str = "session_id",
) -> DataFrame:
    """R5 — split an ordered token stream into records at sentinel markers.

    Reference: ``list_divider`` generator (google_maps_api.ipynb:426-439)
    splits a scraped Wikipedia cell stream on the 'Travelcard' sentinel.
    Classic sessionization-by-marker: running ``sum(marker)`` over the
    ordering assigns each row its record id — one window, no Python.

    ``marker_col`` is a boolean Column; rows where it's true begin a new
    session. NB: the global ``Window.orderBy`` is single-partition — correct
    for the reference's page-sized streams; the scale path partitions by a
    document/page key first (see ``queries.q_split_sessions`` which
    partitions by user). Estimated-large inputs are refused rather than
    silently serialized (guard_global_sort).
    """
    from .util import guard_global_sort

    guard_global_sort(df, "sessionize_by_marker")
    w = Window.orderBy(F.col(order_col)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(session_name, F.sum(F.when(marker_col, 1).otherwise(0)).over(w))
