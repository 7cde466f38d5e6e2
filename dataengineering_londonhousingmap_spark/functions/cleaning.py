"""Scalar function library (SURVEY.md §2.8 F1-F22) — native Column exprs.

Every per-row Python function in the reference becomes a JVM-side Catalyst
expression here: no Python serde in the hot path, whole-stage codegen keeps
them fused into the surrounding scan/filter/project. The one genuinely
procedural function (F13 ``closest_line``) lives in ``operators/udfs.py`` as
a pandas UDF — the documented escape hatch, not the default.

Each function cites the reference behavior it reproduces (file:line per
SURVEY.md conventions). Quirks are intentionally preserved where observable
(e.g. F7's asymmetric 0/1 defaults).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# price / numeric parsing
# ---------------------------------------------------------------------------

def to_num(col: Column | str) -> Column:
    """F1 — strip everything but digits and dots, cast to double.

    Reference: pipeline .py:142-144 ``Decimal(sub(r'[^\\d.]','',price))``.
    ``"£435,000"`` → 435000.0; unparseable → NULL (non-ANSI cast).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"[^0-9.]", "").try_cast("double")


def is_valid_price(col: Column | str) -> Column:
    """F2 — price string is valid iff composed of ``£``, ``,``, digits only.

    Reference: pipeline .py:146-150 (``is_dropped``): ads with "POA" or
    "Offers over £500,000" are dropped before parsing.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(r"^[£,0-9]+$")


def clean_dexters_price(col: Column | str) -> Column:
    """F3 — ``str.replace('£','')`` + ``str.replace(',','')`` + float cast.

    Reference: pipeline .py:630-631. ``translate`` drops both chars in one
    codegen'd pass.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, "£,", "").try_cast("double")


def extract_int(col: Column | str, default: int) -> Column:
    """F7 — first ``\\d+`` match as int, with the reference's asymmetric
    defaults (0 for bathrooms .py:390, 1 for reception .py:395).

    ``regexp_extract`` returns '' on no-match; '' casts to NULL; coalesce
    applies the default. bigint, not int: the reference's Python int is
    unbounded, and an int32 cast would overflow long digit runs to NULL and
    silently hand them the default.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.regexp_extract(c, r"(\d+)", 1).try_cast("bigint"), F.lit(default))


# ---------------------------------------------------------------------------
# distance / transport parsing
# ---------------------------------------------------------------------------

_MILES = " miles "


def split_miles(col: Column | str) -> tuple[Column, Column]:
    """F5 — ``"0.3 miles Angel"`` → (0.3, "Angel").

    Reference: pipeline .py:253-257; rows without ``' miles '`` have NULL
    second element (the reference skips them — P7).

    Exactly the first two parts of ``split(c, ' miles ')``, found by
    literal search: ``split`` reaches Java's ``String.split``, which
    compiles a regex Pattern for every row when the delimiter is longer
    than one character. The station is the text after the first delimiter
    up to the next one, so overlapping occurrences ("a miles miles b")
    split the same way the regex does.
    """
    c = F.col(col) if isinstance(col, str) else col
    has = c.contains(_MILES)
    dist = F.when(has, F.substring_index(c, _MILES, 1).try_cast("double"))
    rest = F.substr(c, F.instr(c, _MILES) + F.lit(len(_MILES)))
    station = F.when(has, F.substring_index(rest, _MILES, 1))
    return dist, station


def clean_dexters_distance_m(col: Column | str) -> Column:
    """F4 — strip trailing ``m``, cast float (metres).

    Reference: pipeline .py:632.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"m$", "").try_cast("double")


def distance_km_from_miles(col: Column) -> Column:
    """Unit normalization (SURVEY §1.2): zoopla distances are miles."""
    return col * F.lit(1.609344)


def distance_km_from_metres(col: Column) -> Column:
    """Unit normalization: dexters distances are metres."""
    return col / F.lit(1000.0)


def has_numbers(col: Column | str) -> Column:
    """F8 — any character is a digit (pipeline .py:541-542)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike("[0-9]")


def get_tube_dist(col: Column | str) -> Column:
    """F9 — last space-token (the leaked distance, pipeline .py:530-534)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, " "), -1)


def strip_tube(col: Column | str) -> Column:
    """F9 — all-but-last space-tokens rejoined (pipeline .py:536-540)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    return F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ")


_FORBIDDEN_RAIL = "London Overground|Railway|Network Rail|Tramlink"


def clean_tube_stop_string(col: Column | str) -> Column:
    """F10 — if the name carries a forbidden rail brand, keep last token.

    Reference: pipeline .py:545-557 (``clean_tube_stop_string``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(_FORBIDDEN_RAIL), F.element_at(F.split(c, " "), -1)).otherwise(c)


def victoria_clean_stop(col: Column | str) -> Column:
    """F11 — ``"Victoria X"`` → ``"X"``, anything else → ``"Victoria"``.

    Reference: pipeline .py:579-587 (applied to rows already filtered to
    ``contains('Victoria')``, P6).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    return F.when(
        (F.element_at(toks, 1) == "Victoria") & (F.size(toks) >= 2),
        F.element_at(toks, 2),
    ).otherwise(F.lit("Victoria"))


def sub_values(col: Column | str) -> Column:
    """F12 — split on newlines, drop empties, split each on '-', trim,
    flatten. Pure ArrayType higher-order functions.

    Reference: pipeline .py:465-477 (transport-info block parser).
    """
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, "\n"), lambda x: x != "")
    # NB: the inner lambda must be unary — F.trim's optional second arg
    # would make PySpark treat it as an (element, index) function
    return F.flatten(
        F.transform(lines, lambda x: F.transform(F.split(x, "-"), lambda s: F.trim(s)))
    )


def ad_id_from_link(col: Column | str) -> Column:
    """F6 — ``href.split('?')[0].split('/')[3]`` (pipeline .py:211-213).

    NB: Python index 3 = Spark element_at 4 (1-based).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(F.element_at(F.split(c, r"\?"), 1), "/"), 4)


# ---------------------------------------------------------------------------
# null / mapping normalization
# ---------------------------------------------------------------------------

def none_string_to_null(col: Column | str) -> Column:
    """F14 — the literal string 'None' → NULL (pipeline .py:290)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == "None", F.lit(None)).otherwise(c)


def yes_no(col: Column | str) -> Column:
    """F21 — {1:'Yes', 0:'No'} remap (google_maps_api.ipynb:175)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.try_cast("int") == 1, F.lit("Yes")).otherwise(F.lit("No"))


# ---------------------------------------------------------------------------
# geo
# ---------------------------------------------------------------------------

def l1_distance(lat: Column, lon: Column, lat0: Column, lon0: Column) -> Column:
    """F19 — ``|Δlat| + |Δlon|`` as used by the reference's NN mapping
    (LondonAir_sites_subway_station_mapping.ipynb:50-57)."""
    return F.abs(lat - lat0) + F.abs(lon - lon0)


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km — the upgrade path for the true
    "within 1 km of a station" serving semantics (reference README.md:4
    states ≤1 km but the code only has the L1 proxy)."""
    r = 6371.0088
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.sin(dlat / 2) ** 2 + F.cos(p1) * F.cos(p2) * F.sin(dlon / 2) ** 2
    return F.lit(2 * r) * F.asin(F.sqrt(a))
