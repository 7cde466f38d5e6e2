"""The serving layer — the queries the webapp runs (reference README.md:4):
"average housing price of properties within a radius of less than 1 km of a
particular subway station" plus "location-specific air pollution".

The reference executes these inside RDS Postgres (QT:51-95 wrapper); here
they are Spark plans over the Parquet star schema — fact tables shuffle-free
(pre-filtered, partial aggregation), dimensions broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.util import exact_avg_cents

_RADIUS_KM = 1.0  # the webapp's "within 1 km of a station" (README.md:4)


def station_price_summary(listings: DataFrame) -> DataFrame:
    """THE serving metric (A3): avg price + listing count per station,
    filtered to listings within 1 km. Filter precedes the aggregate so the
    shuffle carries only in-radius rows; at 100 TB the distance predicate
    also prunes partitions if listings are bucketed by station."""
    return (
        listings.filter(F.col("distance_km") < _RADIUS_KM)
        .filter(F.col("price").isNotNull() & F.col("subway_station").isNotNull())
        .groupBy("subway_station")
        .agg(
            F.round(F.avg("price"), 2).alias("avg_price"),
            F.count("*").alias("n_listings"),
            F.round(F.min("price"), 2).alias("min_price"),
            F.round(F.max("price"), 2).alias("max_price"),
        )
    )


def station_air_summary(air: DataFrame, tube_site_mapping: DataFrame) -> DataFrame:
    """Air-pollution info per station over the whole series: fact time
    series ⋈ broadcast station↔site mapping → per station/species mean
    (A4 + J6)."""
    return (
        air.join(F.broadcast(tube_site_mapping), "site_code")
        .groupBy("subway_station", "species_code")
        .agg(
            exact_avg_cents("value").alias("avg_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.count("*").alias("n_measurements"),
        )
    )


def station_dashboard(
    listings: DataFrame,
    air: DataFrame,
    tube_site_mapping: DataFrame,
    location_information: DataFrame,
) -> DataFrame:
    """The full webapp payload: price summary ⋈ pollution summary ⋈ station
    master data — one row per station × species."""
    prices = station_price_summary(listings)
    pollution = station_air_summary(air, tube_site_mapping)
    dim = F.broadcast(
        location_information.select("subway_station", "tube_line", "transport_zone")
        .dropDuplicates(["subway_station"])
    )
    return (
        prices.join(pollution, "subway_station", "left")
        .join(dim, "subway_station", "left")
    )
