"""Domain-pipeline tests on FIXTURES.md-shaped inline data — each asserts a
reference behavior the engine must reproduce (cited in the pipeline
docstrings), especially the quirky-but-observable ones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataengineering_londonhousingmap_spark.pipelines.air import (
    hourly_air_rollup,
    ingest_air_payloads,
    map_stations_to_sites,
)
from dataengineering_londonhousingmap_spark.pipelines.listings import (
    clean_dexters,
    clean_zoopla,
    unify_listings,
)
from dataengineering_londonhousingmap_spark.pipelines.serving import (
    station_dashboard,
    station_price_summary,
)
from dataengineering_londonhousingmap_spark.pipelines.stations import (
    build_station_dimension,
    explode_zone_membership,
    sessionize_scraped_lines,
)
from dataengineering_londonhousingmap_spark.schemas import DEXTERS_RAW, ZOOPLA_RAW


@pytest.fixture()
def zoopla_raw(spark):
    rows = [
        # (ad_id, link, price_raw, bedrooms, bathrooms, living_rooms, address, transport_raw)
        ("1", "https://z/1", "£435,000", "2", "1", "1", "E14", "0.3 miles Canary Wharf"),
        ("2", "https://z/2", "POA", "3", "None", "1", "E2", "0.5 miles Shoreditch"),  # dropped: price
        ("3", "https://z/3", "£1,250,000", "None", "2", "2", "W1", "0.2 miles Oxford Circus"),
        ("4", "https://z/4", "£500,000", "1", "1", "1", "N1", "nearby Angel"),  # dropped: no ' miles '
        ("1", "https://z/1b", "£999,999", "9", "9", "9", "dup", "9.9 miles Dup"),  # dup ad_id
    ]
    return spark.createDataFrame(rows, ZOOPLA_RAW)


def test_clean_zoopla_semantics(spark, zoopla_raw):
    out = clean_zoopla(zoopla_raw).orderBy("ad_id").collect()
    assert [r.ad_id for r in out] == ["1", "3"]
    r1 = out[0]
    assert r1.price == 435000.0
    assert r1.subway_station == "Canary Wharf"
    assert abs(r1.distance_km - 0.3 * 1.609344) < 1e-9
    # first-seen dedup kept the £435,000 row, not the £999,999 redelivery
    assert r1.link == "https://z/1"
    # 'None' string became NULL int
    assert out[1].bedrooms is None and out[1].bathrooms == 2


@pytest.fixture()
def dexters_raw(spark):
    rows = [
        # (ad_id, street_name, price_raw, address, bedrooms, bathrooms, reception,
        #  link, subway_station_raw, distance_raw, tube_line)
        ("101", "A St", "£400,000", "E1", 2, 1, 1, "https://d/101", "Whitechapel", "450m", "District"),
        # distance leaked into the station string (no digits in distance_raw)
        ("102", "B St", "£500,000", "E2", 3, 0, 1, "https://d/102", "Angel 300m", "Northern line", None),
        # Victoria-line prefix
        ("103", "C St", "£600,000", "SW1", 1, 1, 1, "https://d/103", "Victoria Oval", "200m", "Victoria"),
        # forbidden rail brand keeps last token
        ("104", "D St", "£700,000", "E8", 2, 2, 1, "https://d/104", "London Overground Hackney", "100m", None),
    ]
    return spark.createDataFrame(rows, DEXTERS_RAW)


def test_clean_dexters_semantics(spark, dexters_raw):
    out = {r.ad_id: r for r in clean_dexters(dexters_raw).collect()}
    assert out["101"].price == 400000.0
    assert abs(out["101"].distance_km - 0.45) < 1e-9
    # leak repair: station loses its trailing token, distance recovered
    assert out["102"].subway_station == "Angel"
    assert abs(out["102"].distance_km - 0.3) < 1e-9
    # Victoria cleanup
    assert out["103"].subway_station == "Oval"
    # forbidden brand cleanup
    assert out["104"].subway_station == "Hackney"


def test_unify_listings_maps_names(spark, zoopla_raw, dexters_raw):
    mapping = spark.createDataFrame(
        [("Canary Wharf (canonical)", "Canary Wharf", "Whitechapel")],
        "location_information_station_names string, zoopla_scraper_station_names string, dexters_scraper_station_names string",
    )
    z = clean_zoopla(zoopla_raw)
    d = clean_dexters(dexters_raw)
    out = unify_listings(z, d, mapping)
    stations = {r.ad_id: r.subway_station for r in out.collect()}
    assert stations["1"] == "Canary Wharf (canonical)"      # zoopla mapped
    assert stations["101"] == "Canary Wharf (canonical)"    # dexters mapped
    assert stations["103"] == "Oval"                        # unmapped kept
    assert out.filter(F.col("source") == "zoopla").count() == 2
    assert out.filter(F.col("source") == "dexters").count() == 4


def test_station_dimension_build(spark):
    wide = spark.createDataFrame(
        [("Angel", "Yes", "No"), ("Oval", "Yes", "Yes")],
        "Station string, `Zone 1` string, `Zone 2` string",
    )
    zones = explode_zone_membership(wide, ["Zone 1", "Zone 2"])
    assert zones.count() == 3  # Angel×Z1, Oval×Z1, Oval×Z2

    lines = spark.createDataFrame(
        [("Angel Stn", "Northern line")], "Station string, `Tube Line` string"
    )
    names = spark.createDataFrame(
        [("Angel Stn", "Angel")], "wiki_name string, api_name string"
    )
    dim = build_station_dimension(zones, lines, names)
    rows = {(r["Station"], r["Transport Zone"]): r["Tube Line"] for r in dim.collect()}
    assert rows[("Angel", "Zone 1")] == "Northern line"     # remapped + joined
    assert rows[("Oval", "Zone 2")] == "Overground line"    # GM:918 default


def test_sessionize_scraped_lines(spark):
    toks = spark.createDataFrame(
        [(1, "Travelcard"), (2, "Angel"), (3, "Northern"),
         (4, "Travelcard"), (5, "Oval"), (6, "Victoria")],
        "pos int, token string",
    )
    out = sessionize_scraped_lines(toks).collect()
    sessions = {r.token: r.station_idx for r in out}
    assert sessions["Angel"] == 1 and sessions["Northern"] == 1
    assert sessions["Oval"] == 2 and sessions["Victoria"] == 2


def test_air_ingest_flatten_and_rollup(spark):
    payload = (
        '{"AirQualityData": {"@SiteCode": "MY1", "Data": ['
        '{"@MeasurementDateGMT": "2021-03-14 13:00:00", "@SpeciesCode": "NO2", "@Value": "42.5"},'
        '{"@MeasurementDateGMT": "2021-03-14 13:00:00", "@SpeciesCode": "PM10", "@Value": ""},'
        '{"@MeasurementDateGMT": "2021-03-14 14:00:00", "@SpeciesCode": "NO2", "@Value": "38.1"}'
        "]}}"
    )
    air = ingest_air_payloads(spark.createDataFrame([(payload,)], "payload string"))
    rows = {(r.species_code, str(r.measurement_date_gmt)): r.value for r in air.collect()}
    assert rows[("NO2", "2021-03-14 13:00:00")] == 42.5
    assert rows[("PM10", "2021-03-14 13:00:00")] == 0.0  # '' → 0 (.py:747)

    rollup = hourly_air_rollup(air)
    no2 = rollup.filter("species_code = 'NO2'").orderBy("hour").collect()
    assert [r.avg_value for r in no2] == [42.5, 38.1]


def test_nn_mapping_and_dashboard(spark):
    stations = spark.createDataFrame(
        [("Angel", 51.53, -0.10), ("Oval", 51.48, -0.11)],
        "subway_station string, latitude double, longitude double",
    )
    sites = spark.createDataFrame(
        [("MY1", 51.52, -0.15), ("TH4", 51.49, -0.10)],
        "site_code string, latitude double, longitude double",
    )
    mapping = map_stations_to_sites(stations, sites)
    m = {r.subway_station: r.site_code for r in mapping.collect()}
    assert m == {"Angel": "TH4", "Oval": "TH4"}

    listings = spark.createDataFrame(
        [("1", "zoopla", 500000.0, "Angel", 0.4), ("2", "zoopla", 700000.0, "Angel", 0.6),
         ("3", "dexters", 900000.0, "Angel", 2.0),  # out of radius
         ("4", "dexters", 300000.0, "Oval", 0.2)],
        "ad_id string, source string, price double, subway_station string, distance_km double",
    )
    prices = station_price_summary(listings)
    p = {r.subway_station: (r.avg_price, r.n_listings) for r in prices.collect()}
    assert p["Angel"] == (600000.0, 2)  # 2.0 km listing excluded
    assert p["Oval"] == (300000.0, 1)

    air = spark.createDataFrame(
        [("TH4", "2021-03-14 13:00:00", "NO2", 40.0)],
        "site_code string, measurement_date_gmt string, species_code string, value double",
    ).withColumn("measurement_date_gmt", F.to_timestamp("measurement_date_gmt"))
    loc = spark.createDataFrame(
        [("Angel", "Northern line", "Zone 1"), ("Oval", "Northern line", "Zone 2")],
        "subway_station string, tube_line string, transport_zone string",
    )
    dash = station_dashboard(listings, air, mapping, loc)
    rows = {r.subway_station: r for r in dash.collect()}
    assert rows["Angel"].avg_value == 40.0
    assert rows["Angel"].transport_zone == "Zone 1"
