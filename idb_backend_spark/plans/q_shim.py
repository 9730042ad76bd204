"""§2.2 — the iDigBio query-format (shim) predicate entries."""

from __future__ import annotations

from pyspark.sql import functions as F

from idb_backend_spark.plans.registry import _t, query
from idb_backend_spark.query.shim import compile_shim, shim_to_sql
from idb_backend_spark.plans.synth import GEO_LAT as _GEO_LAT
from idb_backend_spark.plans.synth import GEO_LON as _GEO_LON


# --------------------------------------------------------------------------
# §2.2 — the iDigBio query format (shim) predicates
# --------------------------------------------------------------------------

_SHIM_FULLTEXT = {"fulltext": {"type": "fulltext", "value": "spark window merge"}}


@query(
    "shim_fulltext",
    "SELECT doc_id FROM (SELECT doc_id, lower(text) AS fulltext FROM documents) "
    f"WHERE {shim_to_sql(_SHIM_FULLTEXT)} ORDER BY doc_id",
)
def shim_fulltext(spark, sf_dir):
    """P7 — fulltext AND of whole-token matches over the precomputed
    fulltext column (ES analyzed-`_all` + operator:and semantics,
    reference query_shim.py:123-133; analyzer tokenization strips
    punctuation on both sides)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "fulltext", F.lower(F.col("text"))
    )
    return docs.filter(compile_shim(_SHIM_FULLTEXT)).select("doc_id").orderBy("doc_id")


_SHIM_TERM = {"c_mktsegment": "BUILDING", "c_nationkey": [1, 5, 9]}


@query(
    "shim_term_terms",
    f"SELECT c_custkey, c_name, c_nationkey FROM customer "
    f"WHERE {shim_to_sql(_SHIM_TERM)} ORDER BY c_custkey",
)
def shim_term_terms(spark, sf_dir):
    """P1/P2/P12 — term + terms + conjunction via the shim compiler."""
    return (
        _t(spark, sf_dir, "customer")
        .filter(compile_shim(_SHIM_TERM))
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


# Catalog entry `shim_range_prefix` retired, FOLDED into
# `shim_exists_range` below (catalog.py retirement rule): one combined
# conjunction now drives exists + explicit range (both bounds) + prefix
# through the same shim compilation the two entries exercised
# separately — P3/P4/P5/P6 all stay driver-graded in one slot. Terms
# (P2) keeps its own coverage in `shim_term_terms`; the per-predicate
# compiler paths keep their unit matrix in tests/test_shim.py.

_SHIM_EXISTS = {
    "props": {"type": "exists"},
    # prefix folded in from the retired shim_range_prefix entry
    "event_type": {"type": "prefix", "value": "c"},
    # explicit range form with BOTH bounds (the retired entry's shape;
    # the shorthand gte-only form is unit-tested in tests/test_shim.py)
    "value": {"type": "range", "gte": 2.0, "lt": 9.0},
}


@query(
    "shim_exists_range",
    f"SELECT event_id, event_type, value FROM events "
    f"WHERE {shim_to_sql(_SHIM_EXISTS)} ORDER BY event_id",
)
def shim_exists_range(spark, sf_dir):
    """P3/P4/P5/P6 — exists + range (both bounds) + prefix in one shim
    conjunction (the fold of the former shim_range_prefix entry)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(compile_shim(_SHIM_EXISTS))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


# Geo predicates: the synthetic tables carry no coordinates, so we derive a
# deterministic geopoint per customer (integer arithmetic — exact in both
# engines) and filter it with the shim geo predicates.

_SHIM_BBOX = {
    "geopoint": {
        "type": "geo_bounding_box",
        "top_left": {"lat": 40.0, "lon": -100.0},
        "bottom_right": {"lat": 10.0, "lon": -60.0},
    }
}

# Entry `shim_geo_distance` retired (slot freed for the P15
# `media_serving_table` promotion, q_store.py), FOLDED into
# `shim_geo_bounding_box` below — the same fold discipline as
# shim_geo_polygon -> shim_geo_shape: P9's one distinct piece is the
# `{"type": "geo_distance", ...}` shim DISPATCH plus the haversine
# kernel, and both now grade inside the bbox slot as the projected
# `in_dist_p9` flag (compiled through compile_shim's geo_distance
# branch) and the rounded `dist_km` projection (the retired entry's
# exact output column, same 29.65/-82.32/2000km parameters). The
# standalone filter shape keeps its unit matrix in tests/test_shim.py.

_SHIM_GEODIST = {
    "geopoint": {"type": "geo_distance", "lat": 29.65, "lon": -82.32,
                 "distance": "2000km"}
}

#: the retired entry's haversine rendering, verbatim (DuckDB side)
_HAV_SQL = (
    "2 * 6371.0088 * asin(sqrt(pow(sin(radians(lat - (29.65)) / 2), 2)"
    " + cos(radians(29.65)) * cos(radians(lat))"
    " * pow(sin(radians(lon - (-82.32)) / 2), 2)))"
)


@query(
    "shim_geo_bounding_box",
    "SELECT c_custkey, lat, lon, "
    f"round({_HAV_SQL}, 1) AS dist_km, "
    f"({_HAV_SQL} <= 2000) AS in_dist_p9 "
    "FROM (SELECT c_custkey, "
    f"{_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer) g "
    "WHERE (lat <= 40.0 AND lat >= 10.0) AND (lon >= -100.0 AND lon <= -60.0) "
    "ORDER BY c_custkey",
)
def shim_geo_bbox(spark, sf_dir):
    """P8/P9 — geo_bounding_box filter over the engine's geopoint
    struct, with the retired shim_geo_distance slot folded in:
    `in_dist_p9` is P9's `{"type": "geo_distance"}` dispatch compiled
    through the shim (query_shim.py:80-84) projected as a flag, and
    `dist_km` is the haversine kernel itself — both stay driver-graded
    in this one slot."""
    from idb_backend_spark.query.shim import haversine_km

    g = (
        _t(spark, sf_dir, "customer")
        .withColumn("lat", F.expr(_GEO_LAT))
        .withColumn("lon", F.expr(_GEO_LON))
        .withColumn("geopoint", F.struct(F.col("lat"), F.col("lon")))
    )
    dist = haversine_km(
        F.col("lat"), F.col("lon"), F.lit(29.65), F.lit(-82.32)
    )
    return (
        g.filter(compile_shim(_SHIM_BBOX))
        .select(
            "c_custkey",
            "lat",
            "lon",
            F.round(dist, 1).alias("dist_km"),
            compile_shim(_SHIM_GEODIST).alias("in_dist_p9"),
        )
        .orderBy("c_custkey")
    )

