"""Station dimension build — the google_maps_api.ipynb (GM) notebook chain
as one lazy plan.

Reference flow (SURVEY §3.2): TfL CSV → zone one-hot (cell 3) → melt+filter
Yes (cell 8) → Wikipedia line table sessionized (cells 10-12) → positional
concat (cell 13) → melt+filter (cell 14) → name remap (cell 17) → left merge
(GM:914) → fillna 'Overground line' (GM:918).

Here: the one-hot/melt round-trip collapses to explode; the positional
concat is an explicit zip_join; the marker sessionization is the windowed
running sum. Dimension-sized data (≈650 stations) — every join broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.joins import broadcast_map_join
from ..operators.reshape import sessionize_by_marker, unpivot_yesno


def explode_zone_membership(stations_wide: DataFrame, zone_cols: list[str]) -> DataFrame:
    """GM cells 3+8: wide Yes/No zone columns → long (Station, Transport
    Zone) rows, keeping only memberships. (The reference round-trips
    through get_dummies + melt; the long form is the actual output.)"""
    out = unpivot_yesno(
        stations_wide,
        ids=[c for c in stations_wide.columns if c not in zone_cols],
        value_cols=zone_cols,
        var_name="Transport Zone",
        value_name="Available",
    )
    return out.drop("Available").orderBy("Station", "Transport Zone")


def sessionize_scraped_lines(tokens: DataFrame) -> DataFrame:
    """GM cells 10-12 (list_divider): the scraped Wikipedia token stream is
    split into per-station records at the sentinel "Travelcard" token."""
    return sessionize_by_marker(
        tokens,
        order_col="pos",
        marker_col=F.col("token") == "Travelcard",
        session_name="station_idx",
    )


def build_station_dimension(
    station_zones: DataFrame,       # (Station, Transport Zone) long form
    station_lines: DataFrame,       # (Station, Tube Line) long form
    names_mapping: DataFrame,       # (wiki_name, api_name)
) -> DataFrame:
    """GM cells 13-18: reconcile names, left-join zones to lines, default
    missing lines to 'Overground line' (GM:918)."""
    remapped = broadcast_map_join(
        station_lines, names_mapping,
        key="Station", map_key="wiki_name", map_value="api_name",
        out_col="Station", keep_unmapped=True,
    )
    joined = station_zones.join(F.broadcast(remapped), "Station", "left")
    return joined.withColumn(
        "Tube Line", F.coalesce(F.col("Tube Line"), F.lit("Overground line"))
    )

