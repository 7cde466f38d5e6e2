"""Unit tests for the scalar function library (SURVEY §2.8) — each asserts
the reference's observable parse/clean behavior on its dirty-string cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineering_londonhousingmap_spark.functions.cleaning import (
    ad_id_from_link,
    clean_dexters_price,
    clean_tube_stop_string,
    extract_int,
    haversine_km,
    is_valid_price,
    split_miles,
    sub_values,
    to_num,
    victoria_clean_stop,
    yes_no,
)
from dataengineering_londonhousingmap_spark.functions.text import (
    lang_id_scores,
    quality_score,
    rolling_hash,
    token_count,
)
from dataengineering_londonhousingmap_spark.functions.vectors import cosine_similarity


def _vals(spark, data, schema, col):
    return [r.v for r in spark.createDataFrame(data, schema).select(col.alias("v")).collect()]


def test_price_parsing(spark):
    vals = _vals(
        spark,
        [("£435,000",), ("£1,250,000",), ("POA",), ("Offers over £500,000",)],
        "s string",
        to_num("s"),
    )
    assert vals[0] == 435000.0 and vals[1] == 1250000.0
    valid = _vals(
        spark,
        [("£435,000",), ("POA",), ("Offers over £500,000",)],
        "s string",
        is_valid_price("s"),
    )
    assert valid == [True, False, False]
    assert _vals(spark, [("£99,500",)], "s string", clean_dexters_price("s")) == [99500.0]


def test_extract_int_asymmetric_defaults(spark):
    # bathrooms default 0 (.py:390), receptions default 1 (.py:395)
    assert _vals(spark, [("2 baths",), ("none",)], "s string", extract_int("s", 0)) == [2, 0]
    assert _vals(spark, [("no info",)], "s string", extract_int("s", 1)) == [1]


def test_split_miles(spark):
    dist, station = split_miles("s")
    df = spark.createDataFrame([("0.3 miles Angel",), ("nearby Angel",)], "s string")
    rows = df.select(dist.alias("d"), station.alias("st")).collect()
    assert rows[0].d == 0.3 and rows[0].st == "Angel"
    assert rows[1].d is None and rows[1].st is None


def test_split_miles_matches_split_definition(spark):
    """split_miles finds its parts by literal search. It must give exactly
    the first two elements of split(s, ' miles ') whenever that split has
    two or more, and NULL otherwise."""
    dist, station = split_miles("s")
    df = spark.createDataFrame(
        [
            (None,),
            ("nearby Angel",),
            ("0.3 miles Angel",),
            ("0.5 miles Bank miles Oval",),  # two delimiters
            (" miles Angel",),  # empty first part
            ("0.2 miles ",),  # empty second part
            (" miles  miles ",),  # all parts empty
            ("0.1 miles miles Oval",),  # occurrences share a space
            ("1e0 miles x.y*z",),  # regex metacharacters are literal text
        ],
        "s string",
    )
    parts = F.split("s", " miles ")
    want = F.when(F.size(parts) >= 2, F.struct(
        F.element_at(parts, 1).try_cast("double").alias("d"),
        F.element_at(parts, 2).alias("st"),
    ))
    rows = df.select(
        "s", dist.alias("d"), station.alias("st"), want.alias("want")
    ).collect()
    for r in rows:
        expect = (r.want.d, r.want.st) if r.want is not None else (None, None)
        assert (r.d, r.st) == expect, r.s
    assert rows[3].st == "Bank" and rows[4].st == "Angel" and rows[5].st == ""


def test_station_string_cleanups(spark):
    assert _vals(
        spark,
        [("London Overground Hackney",), ("Angel",)],
        "s string",
        clean_tube_stop_string("s"),
    ) == ["Hackney", "Angel"]
    assert _vals(
        spark, [("Victoria Oval",), ("Victoria",)], "s string", victoria_clean_stop("s")
    ) == ["Oval", "Victoria"]


def test_ad_id_from_link(spark):
    # the reference slices a RELATIVE href: "/for-sale/details/<id>?..."
    # → split('?')[0].split('/') = ['', 'for-sale', 'details', '<id>'],
    # python index 3 (pipeline .py:211-213)
    assert _vals(
        spark,
        [("/for-sale/details/57078120?search_identifier=abc",)],
        "s string",
        ad_id_from_link("s"),
    ) == ["57078120"]


def test_sub_values_hof(spark):
    # newline blocks, '-'-separated items, trimmed, flattened (.py:465-477)
    assert _vals(
        spark, [("a - b\n\nc - d\n",)], "s string", sub_values("s")
    ) == [["a", "b", "c", "d"]]


def test_yes_no_and_haversine(spark):
    assert _vals(spark, [(1,), (0,), (None,)], "s int", yes_no("s")) == ["Yes", "No", "No"]
    km = _vals(
        spark,
        [(51.5074, -0.1278, 48.8566, 2.3522)],  # London→Paris ≈ 344 km
        "lat1 double, lon1 double, lat2 double, lon2 double",
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")),
    )
    assert abs(km[0] - 343.5) < 2.0


def test_text_functions(spark):
    assert _vals(spark, [("the fast cat",), ("",), ("  ",)], "s string", token_count("s")) == [3, 0, 0]
    q = _vals(spark, [("the quick brown fox jumps over the lazy dog",)], "s string", quality_score("s"))
    assert 0.0 <= q[0] <= 1.0
    lang = _vals(
        spark,
        [("the cat and the dog is here",), ("der hund und die katze ist da",), ("zzz qqq",)],
        "s string",
        lang_id_scores("s"),
    )
    assert lang == ["en", "de", "und"]
    # rolling hash: deterministic polynomial fold
    h = _vals(spark, [("ab",)], "s string", rolling_hash("s"))
    assert h[0] == (ord("a") * 31 + ord("b")) % 1_000_000_007


def test_cosine_similarity(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([0.0, 0.0], [1.0, 1.0])],
        "a array<float>, b array<float>",
    )
    vals = [r.v for r in df.select(cosine_similarity(F.col("a"), F.col("b")).alias("v")).collect()]
    assert abs(vals[0]) < 1e-12
    assert abs(vals[1] - 1.0) < 1e-12
    assert vals[2] is None  # zero-vector guard


def test_cleaning_functions_are_ansi_proof(spark):
    """The scalar cleaning library must behave identically under ANSI mode
    (the Spark 4 default on a vanilla session — what the driver runs):
    malformed input → NULL, never an exception."""
    from dataengineering_londonhousingmap_spark.functions.cleaning import (
        clean_dexters_distance_m,
        clean_dexters_price,
        extract_int,
        split_miles,
        to_num,
        yes_no,
    )

    ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    df = ansi.createDataFrame(
        [("..",), ("",), ("£1,200",), ("abc",), ("x miles y",)], "s string"
    )
    d, st = split_miles("s")
    out = df.select(
        to_num("s").alias("a"),
        clean_dexters_price("s").alias("b"),
        extract_int("s", 7).alias("c"),
        clean_dexters_distance_m("s").alias("d"),
        yes_no("s").alias("e"),
        d.alias("f"),
    ).collect()  # must not raise under ANSI
    vals = {r.a for r in out}
    assert 1200.0 in vals and None in vals


def test_redact_pii_order_and_patterns(spark):
    from dataengineering_londonhousingmap_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            ("mail a@b.com now",),
            ("see https://x.io/a@b.com?ip=1.2.3.4 ok",),   # inside URL → one <URL>
            ("host 10.0.0.1 and 192.168.1.255",),
            ("clean text",),
        ],
        "s string",
    )
    got = [r.r for r in df.select(redact_pii("s").alias("r")).collect()]
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "see <URL> ok"          # URL applied first, swallows both
    assert got[2] == "host <IP> and <IP>"
    assert got[3] == "clean text"


def test_bigrams_edges(spark):
    from pyspark.sql import functions as F

    from dataengineering_londonhousingmap_spark.functions.text import bigrams

    df = spark.createDataFrame(
        [("a b c",), ("one",), ("",), ("  x   y  ",)], "s string"
    )
    got = [r.b for r in df.select(bigrams("s").alias("b")).collect()]
    assert got[0] == ["a b", "b c"]
    assert got[1] == []
    assert got[2] == []
    assert got[3] == ["x y"]                  # whitespace-normalized pairs


def test_let_bound_scorers_bit_identical_to_r09_forms(spark):
    """r10: quality_score/lang_id_scores were rewritten with let-bindings
    (functions/text.py:_let) for filter-position safety — the VALUES must
    be bit-identical to the r09 expression forms (the oracles assume it).
    The r09 forms are reconstructed here verbatim and compared in a
    PROJECTION (where subexpression elimination made them correct)."""
    from pyspark.sql import functions as F

    from dataengineering_londonhousingmap_spark.functions.text import (
        _STOPWORDS,
        LANG_MARKERS,
        lang_id_scores,
        quality_score,
        tokens,
    )

    def quality_r09(c):
        toks = tokens(c)
        n_tok = F.size(toks)
        n_chars = F.length(c)
        alpha_chars = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
        stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(_STOPWORDS)))
        len_sig = F.least(n_chars.cast("double") / 500.0, F.lit(1.0))
        alpha_ratio = alpha_chars.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
        stop_ratio = stop_hits.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
        stop_sig = F.least(stop_ratio * 5.0, F.lit(1.0))
        mean_wordlen = alpha_chars.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
        wordlen_sig = F.when((mean_wordlen >= 3.0) & (mean_wordlen <= 12.0), 1.0).otherwise(0.5)
        return len_sig * 0.25 + alpha_ratio * 0.25 + stop_sig * 0.25 + wordlen_sig * 0.25

    def lang_r09(c):
        toks = F.transform(tokens(c), F.lower)

        def _hits(words):
            return F.size(F.filter(toks, lambda t: t.isin(words)))

        entries = F.array(
            *[
                F.struct(_hits(words).alias("hits"), F.lit(lang).alias("lang"))
                for lang, words in sorted(LANG_MARKERS.items())
            ]
        )
        ranked = F.sort_array(
            F.transform(
                entries,
                lambda e: F.struct((-e["hits"]).alias("neg"), e["lang"].alias("lang")),
            )
        )
        best = F.element_at(ranked, 1)
        return F.when(best["neg"] == 0, F.lit("und")).otherwise(best["lang"])

    rows = [
        (1, "the quick brown fox is with the others and the rest of it"),
        (2, "der hund ist nicht mit der katze und das haus"),
        (3, "le chat est une histoire pour les enfants et la mer"),
        (4, "el mundo es una casa por los caminos con las flores para ti"),
        (5, ""),
        (6, "   "),
        (7, None),
        (8, "xq zx qqq"),                      # zero marker hits → und
        (9, "a" * 1200),                        # length cap arm, one giant token
        (10, "!!! ### $$$ 123 456"),            # zero alpha chars
        (11, "word\nword\tword\x0bword"),       # every whitespace class
        (12, "the the the the the the"),        # stopword saturation
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = df.select(
        "id",
        quality_score("text").alias("q_new"),
        quality_r09(F.col("text")).alias("q_old"),
        lang_id_scores("text").alias("l_new"),
        lang_r09(F.col("text")).alias("l_old"),
    ).collect()
    for r in got:
        # bit-identity, not approx: the oracles compare rounded doubles and
        # any ulp drift would surface as a driver hash mismatch
        assert r["q_new"] == r["q_old"], (r["id"], r["q_new"], r["q_old"])
        assert r["l_new"] == r["l_old"], (r["id"], r["l_new"], r["l_old"])
