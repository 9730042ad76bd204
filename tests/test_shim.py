"""Shim-compiler golden tests (style of reference
tests/idb/test_helpers_query_shim.py — assert exact predicate semantics for
every predicate type)."""

import pytest
from pyspark.sql import Row

from idb_backend_spark.query.shim import (
    ShimError,
    compile_shim,
    parse_distance_km,
    shim_to_sql,
)


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        Row(genus="Acer", stateprovince="florida", lat=29.6, lon=-82.3,
            count=5, name="acer rubrum", fulltext="acer rubrum florida herp",
            geopoint=Row(lat=29.6, lon=-82.3)),
        Row(genus="quercus", stateprovince="georgia", lat=33.7, lon=-84.4,
            count=12, name="quercus alba", fulltext="quercus alba georgia",
            geopoint=Row(lat=33.7, lon=-84.4)),
        Row(genus=None, stateprovince="florida", lat=0.0, lon=0.0,
            count=None, name="unknown", fulltext="unknown florida",
            geopoint=Row(lat=0.0, lon=0.0)),
    ]
    return spark.createDataFrame(rows)


def _genera(df, shim):
    return sorted(
        r.name for r in df.filter(compile_shim(shim)).select("name").collect()
    )


def test_term_case_insensitive(df):
    # P1: query-side and store-side case folding agree (query_shim.py:93-105)
    assert _genera(df, {"genus": "ACER"}) == ["acer rubrum"]
    assert _genera(df, {"genus": "acer"}) == ["acer rubrum"]


def test_terms_or(df):
    assert _genera(df, {"genus": ["acer", "Quercus"]}) == [
        "acer rubrum",
        "quercus alba",
    ]


def test_conjunction(df):
    assert _genera(df, {"genus": "acer", "stateprovince": "florida"}) == [
        "acer rubrum"
    ]
    assert _genera(df, {"genus": "acer", "stateprovince": "georgia"}) == []


def test_empty_shim_match_all(df):
    assert len(_genera(df, {})) == 3
    assert len(_genera(df, None)) == 3


def test_exists_missing(df):
    assert _genera(df, {"genus": {"type": "exists"}}) == [
        "acer rubrum",
        "quercus alba",
    ]
    assert _genera(df, {"genus": {"type": "missing"}}) == ["unknown"]


def test_range(df):
    assert _genera(df, {"count": {"type": "range", "gte": 5, "lt": 12}}) == [
        "acer rubrum"
    ]
    assert _genera(df, {"count": {"gte": 5}}) == ["acer rubrum", "quercus alba"]


def test_prefix(df):
    assert _genera(df, {"name": {"type": "prefix", "value": "ACER"}}) == [
        "acer rubrum"
    ]


def test_fulltext_and_semantics(df):
    assert _genera(df, {"data": {"type": "fulltext", "value": "alba georgia"}}) == [
        "quercus alba"
    ]
    assert _genera(df, {"data": {"type": "fulltext", "value": "alba florida"}}) == []


def test_fulltext_whole_token_default(df):
    # ES analyzed-_all semantics: a query token that is a proper substring
    # of a document token must NOT match ('alb' vs 'alba', 'rubr' vs
    # 'rubrum').
    assert _genera(df, {"data": {"type": "fulltext", "value": "alb"}}) == []
    assert _genera(df, {"data": {"type": "fulltext", "value": "rubr"}}) == []
    assert _genera(df, {"data": {"type": "fulltext", "value": "alba"}}) == [
        "quercus alba"
    ]


def test_fulltext_analyzer_strips_punctuation(spark):
    # ES standard-analyzer parity: 'florida,' in the document is token
    # 'florida' — punctuation must not defeat whole-token matching
    # (reference `_all` is analyzed at index time, query_shim.py:123-133).
    pdf = spark.createDataFrame(
        [
            Row(name="a", fulltext="gainesville, florida. (herp dept)"),
            Row(name="b", fulltext="macon georgia"),
        ]
    )
    got = sorted(
        r.name
        for r in pdf.filter(
            compile_shim({"d": {"type": "fulltext", "value": "florida herp"}})
        ).collect()
    )
    assert got == ["a"]
    # query-side punctuation is stripped by the same analyzer
    got2 = sorted(
        r.name
        for r in pdf.filter(
            compile_shim({"d": {"type": "fulltext", "value": "Florida, (herp)"}})
        ).collect()
    )
    assert got2 == ["a"]


def test_typeless_fulltext_mixed_keys_raises(df):
    # a malformed typeless spec mixing 'fulltext' with foreign keys must
    # raise, not silently compile fulltext-only
    bad = {"fulltext": "acer", "top_left": {"lat": 1.0, "lon": 2.0}}
    with pytest.raises(ShimError):
        compile_shim({"geopoint": bad})
    with pytest.raises(ShimError):
        shim_to_sql({"geopoint": bad})
    # the well-formed typeless shape still works
    assert _genera(df, {"x": {"fulltext": "alba georgia"}}) == ["quercus alba"]


def test_geo_bounding_box(df):
    shim = {
        "geopoint": {
            "type": "geo_bounding_box",
            "top_left": {"lat": 31.0, "lon": -85.0},
            "bottom_right": {"lat": 28.0, "lon": -80.0},
        }
    }
    assert _genera(df, shim) == ["acer rubrum"]


def test_geo_distance(df):
    shim = {
        "geopoint": {
            "type": "geo_distance",
            "lat": 29.65,
            "lon": -82.32,
            "distance": "50km",
        }
    }
    assert _genera(df, shim) == ["acer rubrum"]


def test_geo_polygon(df):
    shim = {
        "geopoint": {
            "type": "geo_polygon",
            "points": [[-85.0, 28.0], [-80.0, 28.0], [-80.0, 31.0], [-85.0, 31.0]],
        }
    }
    assert _genera(df, shim) == ["acer rubrum"]


def test_geo_shape_polygon_with_hole(df):
    shim = {
        "geopoint": {
            "type": "geo_shape",
            "shape": {
                "type": "polygon",
                "coordinates": [
                    [[-90.0, 25.0], [-75.0, 25.0], [-75.0, 36.0], [-90.0, 36.0]],
                    # hole around the acer point
                    [[-83.0, 29.0], [-81.0, 29.0], [-81.0, 30.0], [-83.0, 30.0]],
                ],
            },
        }
    }
    assert _genera(df, shim) == ["quercus alba"]


def test_distance_units():
    assert parse_distance_km("50km") == 50.0
    assert parse_distance_km("5000m") == 5.0
    # ES parity: a BARE number is METERS (the reference forwards it to
    # Elasticsearch, whose default distance unit is meters)
    assert parse_distance_km(10) == 0.01
    assert parse_distance_km("5000") == 5.0
    assert parse_distance_km("1mi") == pytest.approx(1.609344)
    assert parse_distance_km("2nmi") == pytest.approx(3.704)
    assert parse_distance_km("100ft") == pytest.approx(0.03048)


def test_unknown_predicate_raises(df):
    with pytest.raises(ShimError):
        compile_shim({"genus": {"type": "bogus"}})


def test_empty_terms_list_matches_nothing_both_paths(df):
    """P2 with an empty list: always-false on the Column path, and the
    SQL emission must be the runnable constant FALSE — 'IN ()' is a
    syntax error in DuckDB."""
    assert _genera(df, {"genus": []}) == []
    sql = shim_to_sql({"genus": []})
    assert "IN ()" not in sql and "FALSE" in sql
    import duckdb

    assert duckdb.sql(f"SELECT {sql}").fetchone()[0] is False


def test_prefix_like_escapes_metachars_in_sql(df):
    """P6 SQL emission must declare the LIKE escape character: without
    ESCAPE, DuckDB reads the backslash literally and 'my\\_val%' matches
    nothing — false negatives vs the Column path's startswith."""
    import duckdb

    sql = shim_to_sql({"f": {"type": "prefix", "value": "my_val"}})
    hit_sql = sql.replace("lower(f)", "'my_value'")
    assert duckdb.sql(f"SELECT {hit_sql}").fetchone()[0] is True
    # and the underscore stays a literal: 'myxval...' must NOT match
    miss_sql = sql.replace("lower(f)", "'myxvalue'")
    assert duckdb.sql(f"SELECT {miss_sql}").fetchone()[0] is False


def test_fulltext_requires_value_both_paths(df):
    with pytest.raises(ShimError):
        compile_shim({"fulltext": {"type": "fulltext"}})
    with pytest.raises(ShimError):
        shim_to_sql({"fulltext": {"type": "fulltext"}})


def test_geo_distance_antipodal_no_nan(spark):
    """Float drift near the antipode must clamp, not NaN: a NaN distance
    silently drops a row genuinely inside a hemisphere-scale radius."""
    from pyspark.sql import functions as F

    from idb_backend_spark.query.shim import haversine_km

    d = spark.range(1).select(
        haversine_km(
            F.lit(0.000000001), F.lit(0.0), F.lit(0.0), F.lit(180.0)
        ).alias("km")
    ).first()["km"]
    assert d == d  # not NaN
    assert abs(d - 20015.086) < 1.0  # half the Earth's circumference


def test_geo_shape_envelope_antimeridian(spark):
    """An envelope whose west lon > east lon crosses the dateline and
    must select the [west,180] U [-180,east] strip — min/max
    normalization used to invert it into its complement."""
    rows = spark.createDataFrame(
        [
            ("in_strip_e", 175.0, 0.0),
            ("in_strip_w", -175.0, 0.0),
            ("outside", 0.0, 0.0),
        ],
        "name string, lon double, lat double",
    ).selectExpr("name", "named_struct('lat', lat, 'lon', lon) AS geopoint")
    shim = {
        "geopoint": {
            "type": "geo_shape",
            "shape": {
                "type": "envelope",
                "coordinates": [[170.0, 10.0], [-170.0, -10.0]],
            },
        }
    }
    got = sorted(
        r["name"] for r in rows.filter(compile_shim(shim)).collect()
    )
    assert got == ["in_strip_e", "in_strip_w"]


def test_sql_emission_property_parity(spark):
    """Hypothesis-driven parity: for randomized values — including LIKE
    metacharacters, quotes, and backslashes — the compiled Column and
    the emitted DuckDB SQL must select the same rows."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    corpus_vals = [
        "plain", "my_val", "my%val", "100%", "back\\slash", "o'quote",
        "my_value", "myxvalue", "", "acer rubrum", "UPPER case",
    ]
    rows = [(i, v, f"{v} extra words") for i, v in enumerate(corpus_vals)]
    sdf = spark.createDataFrame(rows, "id long, v string, fulltext string")
    sdf = sdf.selectExpr("id", "v", "lower(fulltext) AS fulltext")
    pdf = sdf.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)

    probe = st.sampled_from(
        corpus_vals + ["my_", "my%", "\\", "'", "zz", "100"]
    )

    @settings(max_examples=60, deadline=None, derandomize=True)
    @given(
        value=probe,
        kind=st.sampled_from(["term", "terms", "prefix", "fulltext"]),
    )
    def check(value, kind):
        if kind == "term":
            shim = {"v": value}
        elif kind == "terms":
            shim = {"v": [value, "plain"]}
        elif kind == "prefix":
            shim = {"v": {"type": "prefix", "value": value}}
        else:
            shim = {"fulltext": {"type": "fulltext", "value": value}}
        spark_ids = sorted(
            r["id"] for r in sdf.filter(compile_shim(shim)).collect()
        )
        sql_ids = sorted(
            r[0]
            for r in con.execute(
                f"SELECT id FROM t WHERE {shim_to_sql(shim)}"
            ).fetchall()
        )
        assert spark_ids == sql_ids, (shim, spark_ids, sql_ids)

    check()


def test_distance_units_cover_the_es_set():
    """Every ES DistanceUnit spelling parses; malformed distances raise
    ShimError (not a bare float ValueError pointing at a fragment)."""
    import pytest

    from idb_backend_spark.query.shim import ShimError, parse_distance_km

    assert abs(parse_distance_km("5centimeters") - 5e-5) < 1e-12
    assert abs(parse_distance_km("5millimeters") - 5e-6) < 1e-12
    assert abs(parse_distance_km("5NM") - 9.26) < 1e-9
    assert abs(parse_distance_km("5nmi") - 9.26) < 1e-9
    assert abs(parse_distance_km("12in") - 12 * 0.0000254) < 1e-12
    assert abs(parse_distance_km("12inch") - 12 * 0.0000254) < 1e-12
    with pytest.raises(ShimError):
        parse_distance_km("5parsecs")


def test_bare_geojson_geometry_compiles(spark):
    """GeoJSON's mandatory 'type' is the GEOMETRY type — a bare Polygon/
    envelope spec must route to the geo_shape compiler, not die on the
    generic unrecognized-spec error."""
    from pyspark.sql import functions as F

    ring = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [(1.0, 1.0), (5.0, 5.0)], "lat double, lon double"
    ).select(F.struct("lat", "lon").alias("geopoint"))
    inside = df.filter(
        compile_shim({"geopoint": {"type": "Polygon", "coordinates": [ring]}})
    ).count()
    assert inside == 1
    env = df.filter(
        compile_shim({
            "geopoint": {
                "type": "envelope", "coordinates": [[-1.0, 1.5], [1.5, -1.0]],
            },
        })
    ).count()
    assert env == 1


def test_sql_emitter_malformed_spec_parity(spark):
    """Both emitters raise ShimError for every malformed spec: an empty
    range once emitted invalid SQL '()', a value-less prefix crashed
    with AttributeError, and a spec still asking for the removed
    fulltext ``substring`` flavor must not quietly match whole tokens."""
    bad_box = {"fulltext": "acer", "top_left": {"lat": 1.0, "lon": 2.0}}
    for spec in (
        {"count": {"type": "range"}},
        {"name": {"type": "prefix"}},
        {"x": {"type": "weird", "gte": 5}},
        {"genus": {"type": "bogus"}},
        {"geopoint": bad_box},
        {"fulltext": {"type": "fulltext"}},
        {"fulltext": {"type": "fulltext", "value": "alb", "substring": True}},
        {"fulltext": {"type": "fulltext", "value": "alb", "substring": False}},
        {"x": {"fulltext": "alb", "substring": True}},
        {"geopoint": {"lat": 1.0, "lon": 2.0, "distance": "5parsecs"}},
        {"geopoint": {"type": "geo_shape",
                      "shape": {"type": "linestring", "coordinates": [[0, 0]]}}},
        {"geopoint": {"type": "MultiPolygon", "coordinates": []}},
        {"geopoint": {"type": "Polygon", "coordinates": []}},
    ):
        with pytest.raises(ShimError):
            compile_shim(spec)
        with pytest.raises(ShimError):
            shim_to_sql(spec)


def test_sql_emission_matches_spark(spark):
    """The emitted SQL must select the same rows as the compiled Column:
    every predicate kind, the polygon family included, through
    compile_shim on Spark and through shim_to_sql on DuckDB over one
    Arrow copy of the rows (geopoint a lat/lon struct, one of them with
    NULL coordinates)."""
    import duckdb

    from idb_backend_spark.query.shim import _COLUMN, _parse

    rows = spark.createDataFrame(
        [
            ("acer rubrum", "Acer", 5, "acer rubrum florida", 29.6, -82.3),
            ("quercus alba", "quercus", 12, "quercus alba georgia", 33.7, -84.4),
            ("origin", None, None, "unknown", 0.0, 0.0),
            ("east", "Abies", 7, "pacific east", 0.0, 175.0),
            ("west", "abies", 20, "pacific west", 0.0, -175.0),
            ("square", "Betula", 1, "inside square", 1.0, 1.0),
            ("far", "betula", 3, "far square", 11.0, 11.0),
            ("nowhere", "Acer", 9, "no coordinates", None, None),
        ],
        "name string, genus string, count int, fulltext string,"
        " lat double, lon double",
    ).selectExpr(
        "name", "genus", "count", "fulltext",
        "named_struct('lat', lat, 'lon', lon) AS geopoint",
    )
    con = duckdb.connect()
    con.register("t", rows.toArrow())

    box = [[-90.0, 25.0], [-75.0, 25.0], [-75.0, 36.0], [-90.0, 36.0]]
    hole = [[-83.0, 29.0], [-81.0, 29.0], [-81.0, 30.0], [-83.0, 30.0]]
    square = [[0.5, 0.5], [2.0, 0.5], [2.0, 2.0], [0.5, 2.0], [0.5, 0.5]]
    far = [[10, 10], [12, 10], [12, 12], [10, 12]]  # integer vertices
    shims = [
        ({"genus": "ACER"}, ["acer rubrum", "nowhere"]),
        ({"genus": ["abies", "Betula"]}, ["east", "far", "square", "west"]),
        ({"genus": {"type": "exists"}}, None),
        ({"genus": {"type": "missing"}}, ["origin"]),
        ({"count": {"type": "range", "gte": 5, "lt": 12}}, None),
        ({"count": {"lte": 3}}, ["far", "square"]),
        ({"name": {"type": "prefix", "value": "QUE"}}, ["quercus alba"]),
        ({"f": {"type": "fulltext", "value": "Pacific"}}, ["east", "west"]),
        ({"f": {"type": "fulltext", "value": "alba georgia"}}, ["quercus alba"]),
        ({"f": {"type": "fulltext", "value": "alb"}}, []),
        ({"f": {"type": "fulltext", "value": "rubrum florida"}}, ["acer rubrum"]),
        ({"f": {"type": "fulltext", "value": "Alba, georgia!"}}, ["quercus alba"]),
        ({"geopoint": {"type": "geo_bounding_box",
                       "top_left": {"lat": 31.0, "lon": -85.0},
                       "bottom_right": {"lat": 28.0, "lon": -80.0}}},
         ["acer rubrum"]),
        ({"geopoint": {"top_left": {"lat": 5, "lon": 170},
                       "bottom_right": {"lat": -5, "lon": -170}}},
         ["east", "west"]),
        ({"geopoint": {"type": "geo_distance", "lat": 29.65, "lon": -82.32,
                       "distance": "50km"}}, ["acer rubrum"]),
        ({"geopoint": {"type": "geo_polygon", "points": far}}, ["far"]),
        ({"geopoint": {"type": "Polygon", "coordinates": [square]}},
         ["square"]),
        ({"geopoint": {"type": "geo_shape",
                       "shape": {"type": "polygon", "coordinates": [box, hole]}}},
         ["quercus alba"]),
        ({"geopoint": {"type": "MultiPolygon",
                       "coordinates": [[box, hole], [square], [far]]}},
         ["far", "quercus alba", "square"]),
        ({"geopoint": {"type": "geo_shape",
                       "shape": {"type": "envelope",
                                 "coordinates": [[170.0, 10.0], [-170.0, -10.0]]}}},
         ["east", "west"]),
        ({"genus": {"type": "exists"}, "count": {"gt": 4}}, None),
        ({}, None),
    ]
    kinds = {p.kind for shim, _ in shims for p in _parse(shim, False)}
    assert kinds == set(_COLUMN)
    for shim, want in shims:
        spark_names = sorted(
            r.name for r in rows.filter(compile_shim(shim)).select("name").collect()
        )
        sql_names = sorted(
            r[0]
            for r in con.execute(
                f"SELECT name FROM t WHERE {shim_to_sql(shim)}"
            ).fetchall()
        )
        assert spark_names == sql_names, shim
        if want is not None:
            assert spark_names == want, shim


def test_reference_python_shim_geo_shape_is_broken(spark):
    """r10 sweep pin: the reference's Python query shim (the download
    pipeline's compiler, idigbio_workers/lib/query_shim.py) CANNOT
    serve geo_shape/geo_polygon. geoShape wraps the spec as
    {"shape": shimK} and geoPolygon as {"points": shimK} before
    typeWrapper's `del qd["type"]` (query_shim.py:38-45, 85-89) — the
    wrapper dict has no top-level "type", so a KeyError is guaranteed;
    singleFilter's bare except swallows it into a None filter
    (:160-170) and the download's ES body becomes {"and": [null]}.
    Transcribed literally below; the engine compiles both types
    natively for the download path instead (the evident intent)."""
    import copy

    def typeWrapper(k, t, shimK):  # query_shim.py:38-45 verbatim shape
        qd = copy.deepcopy(shimK)
        del qd["type"]
        return {t: {k: qd}}

    shim = {"type": "geo_shape",
            "geometry": {"type": "polygon", "coordinates": [[[0, 0]]]}}
    with pytest.raises(KeyError):
        typeWrapper("geopoint", "geo_shape", {"shape": shim})
    with pytest.raises(KeyError):
        typeWrapper("geopoint", "geo_polygon", {"points": [[0, 0]]})

    # the engine's compiler, by contrast, yields a usable predicate
    from idb_backend_spark.query.shim import compile_shim

    pred = compile_shim({
        "geopoint": {
            "type": "geo_shape",
            "shape": {
                "type": "polygon",
                "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]],
            },
        }
    })
    assert pred is not None
