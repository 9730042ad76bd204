"""iDigBio Query Format ("shim") compiler.

The reference compiles a JSON object ``{field: cond, ...}`` into an
Elasticsearch filter that is the AND of per-field predicates
(idigbio_workers/lib/query_shim.py:171-197). This module reads the same
language once and renders it twice: into a PySpark ``Column`` predicate
(`compile_shim`) and into the equivalent DuckDB-runnable SQL boolean
expression (`shim_to_sql`, the oracle twin).

One parser, two renderers: `_predicate` maps each field's condition to
a typed `_Pred` (kind, field, arguments). It owns the value-shape
dispatch, the typeless-shape rules, query-side folding, distance
parsing and every `ShimError`. The renderers only map kinds to
expressions, so the Column and the SQL always read a spec the same way.

Value-shape dispatch (reference query_shim.py:157-169):
  scalar  -> term        (case-insensitive equality; strings are lowercased
                          both at write and query time, conversions.py:280-285)
  list    -> terms       (OR-of-terms, query_shim.py:108-121)
  object  -> typed predicate keyed by ``type`` or by shape
             (query_shim.py:135-155): exists / missing / range / prefix /
             fulltext / geo_bounding_box / geo_distance / geo_polygon /
             geo_shape

Scale notes:
  * Every predicate compiles to a native Column expression (no UDFs;
    polygons unroll into a crossing test), so Catalyst pushes the
    comparisons into the Parquet scan (PushedFilters) and keeps the whole
    filter inside WholeStageCodegen.
  * Case-insensitive equality: by default we emit ``lower(col) == value``.
    When the store follows the engine's write-time case-folding discipline
    (reference X12: conversions.py:280-285 lowercases at index time), pass
    ``assume_lowercased=True`` to emit a plain equality that can be pushed
    down to the scan and used for partition pruning.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Any, NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from idb_backend_spark.functions.text import whole_token_match, whole_token_match_sql

EARTH_RADIUS_KM = 6371.0088

#: range spec keys -> comparison (query_shim.py:39-50)
_RANGE_OPS = {"gte": ">=", "lte": "<=", "gt": ">", "lt": "<"}
_CMP = {">=": operator.ge, "<=": operator.le, ">": operator.gt, "<": operator.lt}
_GEOJSON_TYPES = ("polygon", "multipolygon", "envelope")


class ShimError(ValueError):
    pass


class _Pred(NamedTuple):
    """One parsed field predicate; ``args`` by kind:
    term (value, lower) · terms (values, lower) · exists () · missing () ·
    range (bounds,) of (op, value) pairs · prefix (value, lower) ·
    fulltext (value,) · geo_bounding_box (top, bottom, west, east) ·
    geo_distance (lat, lon, km) · polygons (polygons,), each polygon a
    ring list, outer first, then holes. ``lower``: compare ``lower(field)``."""

    kind: str
    field: str
    args: tuple


def _fold(v: Any) -> Any:
    """Query-side case folding (reference query_shim.py:94-99, 112)."""
    return v.lower() if isinstance(v, str) else v


_DIST_UNIT_KM = {
    "km": 1.0,
    "kilometers": 1.0,
    "m": 0.001,
    "meters": 0.001,
    "mi": 1.609344,
    "miles": 1.609344,
    # nmi must sort longer than mi (suffix match walks longest-first)
    "nmi": 1.852,
    "nauticalmiles": 1.852,
    "yd": 0.0009144,
    "yards": 0.0009144,
    "ft": 0.0003048,
    "feet": 0.0003048,
    "cm": 0.00001,
    "centimeters": 0.00001,
    "mm": 0.000001,
    "millimeters": 0.000001,
    "in": 0.0000254,
    "inch": 0.0000254,
    # ES spells nautical miles NM/nmi/nauticalmiles; lowercased here
    "nm": 1.852,
}


def parse_distance_km(distance: Any) -> float:
    """ES distance-string semantics: a BARE number is METERS (the
    reference forwards the value to Elasticsearch untouched, and ES's
    default distance unit is meters — a bare 5000 is 5 km, not
    5000 km)."""
    if isinstance(distance, (int, float)):
        return float(distance) * 0.001
    s = str(distance).strip().lower()
    try:
        for unit in sorted(_DIST_UNIT_KM, key=len, reverse=True):
            if s.endswith(unit):
                return float(s[: -len(unit)].strip()) * _DIST_UNIT_KM[unit]
        return float(s) * 0.001
    except ValueError as e:
        # a malformed (or genuinely unknown-unit) distance is a QUERY
        # error: surface it as ShimError like every other bad spec, not
        # a bare float() ValueError pointing at a stripped fragment
        raise ShimError(f"unparseable distance: {distance!r}") from e


# --------------------------------------------------------------------------
# The parser
# --------------------------------------------------------------------------


def _predicate(field: str, cond: Any, assume_lowercased: bool) -> _Pred:
    """One field predicate (reference singleFilter/objectType,
    query_shim.py:135-169). A typeless object is read by its shape; an
    explicit ``type`` that matches no arm (``{'type': 'weird', 'gte': 5}``)
    is the unrecognized-spec error, never a guess."""
    if isinstance(cond, list):  # P2, query_shim.py:108-121
        lower = any(isinstance(v, str) for v in cond) and not assume_lowercased
        return _Pred("terms", field, ([_fold(v) for v in cond], lower))
    if not isinstance(cond, dict):  # P1, query_shim.py:93-105
        lower = isinstance(cond, str) and not assume_lowercased
        return _Pred("term", field, (_fold(cond), lower))
    t, keys = cond.get("type"), set(cond)
    if t in ("exists", "missing"):  # P3/P4, query_shim.py:23-36
        return _Pred(t, field, ())
    if t == "range" or (t is None and keys & set(_RANGE_OPS)):  # P5
        bounds = [(_RANGE_OPS[k], v) for k, v in cond.items() if k in _RANGE_OPS]
        if not bounds:
            raise ShimError(f"empty range spec for {field!r}: {cond!r}")
        return _Pred("range", field, (bounds,))
    if t == "prefix" or (t is None and keys == {"prefix"}):  # P6
        value = cond.get("value", cond.get("prefix"))
        if value is None:
            raise ShimError(f"prefix predicate for {field!r} requires a value")
        return _Pred("prefix", field, (_fold(value), not assume_lowercased))
    # P7. The typeless shape is matched strictly, so a spec mixing
    # 'fulltext' with e.g. geo keys is an error, not a fulltext-only match.
    if t == "fulltext" or (t is None and keys == {"fulltext"}):
        if "substring" in cond:
            # the contains() flavor is gone; matching whole tokens instead
            # would answer a different question without saying so
            raise ShimError(f"fulltext 'substring' is not supported: {cond!r}")
        value = cond.get("value", cond.get("fulltext"))
        if value is None:
            raise ShimError("fulltext predicate requires a 'value'")
        # numbers etc. probe their string form, as in ES
        return _Pred("fulltext", field, (str(value),))
    if t == "geo_bounding_box" or (t is None and keys >= {"top_left", "bottom_right"}):
        tl, br = cond["top_left"], cond["bottom_right"]  # P8
        return _Pred("geo_bounding_box", field, (tl["lat"], br["lat"], tl["lon"], br["lon"]))
    if t == "geo_distance" or (t is None and keys >= {"distance", "lat", "lon"}):
        km = parse_distance_km(cond["distance"])  # P9
        return _Pred("geo_distance", field, (float(cond["lat"]), float(cond["lon"]), km))
    if t == "geo_polygon" or (t is None and keys == {"points"}):  # P11
        return _Pred("polygons", field, ([[cond["points"]]],))
    if (
        t == "geo_shape"
        # bare GeoJSON: its mandatory 'type' is the GEOMETRY type, case
        # per the GeoJSON spec
        or (isinstance(t, str) and t.lower() in _GEOJSON_TYPES and "coordinates" in cond)
        or (t is None and "coordinates" in cond)
    ):
        # P10 (query_shim.py:85-86). The reference's Python shim cannot
        # serve geo_shape/geo_polygon at all: it wraps the spec before
        # typeWrapper's `del qd["type"]` (query_shim.py:38-45, 85-89), a
        # KeyError that singleFilter's bare except swallows into a None
        # filter (pinned in tests/test_shim.py
        # test_reference_python_shim_geo_shape_is_broken). This engine
        # compiles both for the download path too: the evident intent.
        shape = cond.get("shape", cond)
        gtype = shape.get("type", "").lower()
        if gtype == "envelope":
            # [[west, north], [east, south]]; longitudes keep their order,
            # since west > east is the antimeridian-crossing form
            (x1, y1), (x2, y2) = shape["coordinates"]
            return _Pred("geo_bounding_box", field, (max(y1, y2), min(y1, y2), x1, x2))
        if gtype not in ("polygon", "multipolygon"):
            raise ShimError(f"unsupported geo_shape type: {gtype!r}")
        polygons = shape["coordinates"]
        if gtype == "polygon":
            polygons = [polygons]
        if not polygons or not all(polygons):
            raise ShimError(f"empty {gtype} for {field!r}: {shape!r}")
        return _Pred("polygons", field, (polygons,))
    raise ShimError(f"unrecognized predicate object for {field!r}: {cond!r}")


def _parse(shim: dict | None, assume_lowercased: bool) -> list[_Pred]:
    """The shim's per-field predicates; empty/None is match-all
    (reference query_shim.py:194-195)."""
    return [_predicate(f, c, assume_lowercased) for f, c in (shim or {}).items()]


def _crossing_edges(polygon: list) -> list[tuple[float, float, float, float]]:
    """(y1, y2, dx/dy, x1) per non-horizontal edge of a [lon, lat] ring
    (GeoJSON order, reference query_shim.py:85-90); a closing vertex
    equal to the first is dropped, and a horizontal edge never crosses
    the ray."""
    if polygon[0] == polygon[-1]:
        polygon = polygon[:-1]
    n = len(polygon)
    edges = []
    for i in range(n):
        x1, y1 = float(polygon[i][0]), float(polygon[i][1])
        x2, y2 = float(polygon[(i + 1) % n][0]), float(polygon[(i + 1) % n][1])
        if y1 != y2:
            edges.append((y1, y2, (x2 - x1) / (y2 - y1), x1))
    return edges


# --------------------------------------------------------------------------
# Column renderer
# --------------------------------------------------------------------------


def _col(field: str, lower: bool) -> Column:
    return F.lower(F.col(field)) if lower else F.col(field)


def _term(field: str, value: Any, lower: bool) -> Column:
    return _col(field, lower) == F.lit(value)


def _terms(field: str, values: list, lower: bool) -> Column:
    return _col(field, lower).isin(values)


def _range(field: str, bounds: list) -> Column:
    return reduce(operator.and_, [_CMP[op](F.col(field), F.lit(v)) for op, v in bounds])


def _prefix(field: str, value: Any, lower: bool) -> Column:
    return _col(field, lower).startswith(value)


def _geo_bounding_box(field: str, top: Any, bottom: Any, west: Any, east: Any) -> Column:
    # `field` is a struct col with `lat`/`lon` subfields (the engine's
    # geopoint type, SURVEY §1.4)
    lat, lon = F.col(f"{field}.lat"), F.col(f"{field}.lon")
    lat_ok = (lat <= F.lit(top)) & (lat >= F.lit(bottom))
    if west <= east:
        lon_ok = (lon >= F.lit(west)) & (lon <= F.lit(east))
    else:  # antimeridian-crossing box splits into two intervals
        lon_ok = (lon >= F.lit(west)) | (lon <= F.lit(east))
    return lat_ok & lon_ok


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km as a native expression (stays in codegen)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(
        F.sin(dlon / 2), 2
    )
    # clamp before asin: float drift near antipodal points can push the
    # haversine term to 1 + 2^-52, making sqrt > 1 and asin NaN — which
    # would silently DROP a row genuinely inside the radius (the SQL
    # rendering clamps with the same least())
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def _geo_distance(field: str, lat: float, lon: float, km: float) -> Column:
    return (
        haversine_km(F.col(f"{field}.lat"), F.col(f"{field}.lon"), F.lit(lat), F.lit(lon))
        <= F.lit(km)
    )


def point_in_polygon(lat: Column, lon: Column, polygon: list) -> Column:
    """P10/P11 — ray-casting point-in-polygon as a *native* expression.

    ``polygon`` is a list of [lon, lat] vertices. Because the polygon is a
    query-time constant, we unroll the crossing test over its edges into
    a boolean XOR chain — no UDF, stays in WholeStageCodegen,
    pushdown-friendly. `point_in_polygon_sql` is its SQL twin.
    """
    inside = F.lit(False)
    for y1, y2, slope, x1 in _crossing_edges(polygon):
        crosses = ((F.lit(y1) > lat) != (F.lit(y2) > lat)) & (
            lon < (lat - F.lit(y1)) * F.lit(slope) + F.lit(x1)
        )
        inside = inside != crosses  # boolean XOR accumulates crossing parity
    return inside


def _polygons(field: str, polygons: list) -> Column:
    lat, lon = F.col(f"{field}.lat"), F.col(f"{field}.lon")

    def polygon(rings: list) -> Column:
        inside = point_in_polygon(lat, lon, rings[0])
        for hole in rings[1:]:
            inside = inside & ~point_in_polygon(lat, lon, hole)
        return inside

    return reduce(operator.or_, [polygon(rings) for rings in polygons])


_COLUMN = {
    "term": _term,
    "terms": _terms,
    "exists": lambda field: F.col(field).isNotNull(),
    "missing": lambda field: F.col(field).isNull(),
    "range": _range,
    "prefix": _prefix,
    # ES _all match with operator:and (query_shim.py:123-133) over the
    # engine's write-time `fulltext` column: the same whole-token matcher
    # as plans/skipping.fulltext_scan's residual, so the token index can
    # prune for shim queries
    "fulltext": lambda field, value: whole_token_match("fulltext", value),
    "geo_bounding_box": _geo_bounding_box,
    "geo_distance": _geo_distance,
    "polygons": _polygons,
}


def compile_shim(shim: dict | None, assume_lowercased: bool = False) -> Column:
    """Compile a shim to the AND of its per-field predicates."""
    preds = [_COLUMN[p.kind](p.field, *p.args) for p in _parse(shim, assume_lowercased)]
    return reduce(operator.and_, preds) if preds else F.lit(True)


# --------------------------------------------------------------------------
# SQL renderer (DuckDB; the oracle twin)
# --------------------------------------------------------------------------


def _sql_lit(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _sql_col(field: str, lower: bool) -> str:
    return f"lower({field})" if lower else field


def _terms_sql(field: str, values: list, lower: bool) -> str:
    if not values:
        # the Column is isin([]), always false; 'IN ()' is a DuckDB syntax error
        return "FALSE"
    return f"{_sql_col(field, lower)} IN ({', '.join(_sql_lit(v) for v in values)})"


def _prefix_sql(field: str, value: str, lower: bool) -> str:
    # backslash first, then the LIKE metachars; the ESCAPE clause is
    # REQUIRED — DuckDB has no default escape character, so a bare
    # 'my\_val%' pattern would demand a literal backslash and match nothing
    pat = value.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")
    return f"{_sql_col(field, lower)} LIKE {_sql_lit(pat + '%')} ESCAPE '\\'"


def _geo_bounding_box_sql(field: str, top: Any, bottom: Any, west: Any, east: Any) -> str:
    lat, lon = f"{field}.lat", f"{field}.lon"
    lat_ok = f"({lat} <= {top} AND {lat} >= {bottom})"
    join = "AND" if west <= east else "OR"
    return f"({lat_ok} AND ({lon} >= {west} {join} {lon} <= {east}))"


def _geo_distance_sql(field: str, qlat: float, qlon: float, km: float) -> str:
    lat, lon = f"{field}.lat", f"{field}.lon"
    a = (
        f"pow(sin(radians({lat} - ({qlat})) / 2), 2)"
        f" + cos(radians({qlat})) * cos(radians({lat}))"
        f" * pow(sin(radians({lon} - ({qlon})) / 2), 2)"
    )
    return f"(2 * {EARTH_RADIUS_KM} * asin(sqrt(least({a}, 1.0))) <= {km})"


def point_in_polygon_sql(lat: str, lon: str, polygon: list) -> str:
    """SQL twin of `point_in_polygon`: the same edge-by-edge crossing
    test, its parity taken from the crossing count."""
    terms = [
        f"CAST((({y1} > {lat}) != ({y2} > {lat})) AND "
        f"({lon} < ({lat} - ({y1})) * ({slope!r}) + ({x1})) AS INT)"
        for y1, y2, slope, x1 in _crossing_edges(polygon)
    ]
    return "(" + " + ".join(terms) + ") % 2 = 1" if terms else "FALSE"


def _polygons_sql(field: str, polygons: list) -> str:
    lat, lon = f"{field}.lat", f"{field}.lon"
    return " OR ".join(
        "(" + " AND NOT ".join(f"({point_in_polygon_sql(lat, lon, r)})" for r in rings) + ")"
        for rings in polygons
    )


_SQL = {
    "term": lambda field, value, lower: f"{_sql_col(field, lower)} = {_sql_lit(value)}",
    "terms": _terms_sql,
    "exists": lambda field: f"{field} IS NOT NULL",
    "missing": lambda field: f"{field} IS NULL",
    "range": lambda field, bounds: " AND ".join(
        f"{field} {op} {_sql_lit(v)}" for op, v in bounds
    ),
    "prefix": _prefix_sql,
    "fulltext": lambda field, value: whole_token_match_sql("fulltext", value),
    "geo_bounding_box": _geo_bounding_box_sql,
    "geo_distance": _geo_distance_sql,
    "polygons": _polygons_sql,
}


def shim_to_sql(shim: dict | None, assume_lowercased: bool = False) -> str:
    """Equivalent ANSI-SQL WHERE expression for the shim (DuckDB-runnable)."""
    preds = [f"({_SQL[p.kind](p.field, *p.args)})" for p in _parse(shim, assume_lowercased)]
    return " AND ".join(preds) if preds else "TRUE"
