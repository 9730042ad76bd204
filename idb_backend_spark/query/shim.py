"""iDigBio Query Format ("shim") compiler.

The reference compiles a JSON object ``{field: cond, ...}`` into an
Elasticsearch filter that is the AND of per-field predicates
(idigbio_workers/lib/query_shim.py:171-197). This module compiles the same
language into a PySpark ``Column`` predicate, and — for oracle parity and
pushdown-friendly debugging — into an equivalent ANSI-SQL boolean
expression.

Value-shape dispatch (reference query_shim.py:157-169):
  scalar  -> term        (case-insensitive equality; strings are lowercased
                          both at write and query time, conversions.py:280-285)
  list    -> terms       (OR-of-terms, query_shim.py:108-121)
  object  -> typed predicate keyed by ``type`` or by shape
             (query_shim.py:135-155): exists / missing / range / prefix /
             fulltext / geo_bounding_box / geo_distance / geo_polygon /
             geo_shape

Scale notes:
  * Every predicate compiles to a native Column expression — no UDFs except
    geo_polygon/geo_shape (point-in-polygon) — so Catalyst pushes the
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
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

_GEO_TYPES = {"geo_bounding_box", "geo_distance", "geo_polygon", "geo_shape"}

EARTH_RADIUS_KM = 6371.0088


class ShimError(ValueError):
    pass


def _fold(v: Any) -> Any:
    """Query-side case folding (reference query_shim.py:94-99, 112)."""
    return v.lower() if isinstance(v, str) else v


def _col_folded(field: str, value_is_str: bool, assume_lowercased: bool) -> Column:
    c = F.col(field)
    if value_is_str and not assume_lowercased:
        return F.lower(c)
    return c


# --------------------------------------------------------------------------
# Column compilation
# --------------------------------------------------------------------------


def _term(field: str, value: Any, assume_lowercased: bool) -> Column:
    # P1 — term: case-insensitive equality (query_shim.py:93-105)
    return _col_folded(field, isinstance(value, str), assume_lowercased) == F.lit(
        _fold(value)
    )


def _terms(field: str, values: list, assume_lowercased: bool) -> Column:
    # P2 — terms with "execution": "or" (query_shim.py:108-121)
    any_str = any(isinstance(v, str) for v in values)
    return _col_folded(field, any_str, assume_lowercased).isin(
        [_fold(v) for v in values]
    )


def _range(field: str, spec: dict) -> Column:
    # P5 — {gte, lte, gt, lt} passthrough (query_shim.py:39-50)
    ops = {"gte": operator.ge, "lte": operator.le, "gt": operator.gt, "lt": operator.lt}
    preds = [ops[k](F.col(field), F.lit(v)) for k, v in spec.items() if k in ops]
    if not preds:
        raise ShimError(f"empty range spec for {field!r}: {spec!r}")
    return reduce(operator.and_, preds)


def _prefix(field: str, value: str, assume_lowercased: bool) -> Column:
    # P6 — lowercased prefix (query_shim.py:53-65)
    if value is None:
        # a value-less spec would compile startswith(NULL) — a predicate
        # that silently matches zero rows (and the SQL emitter would
        # crash); raise on BOTH paths, like the fulltext branch
        raise ShimError(f"prefix predicate for {field!r} requires a value")
    return _col_folded(field, True, assume_lowercased).startswith(_fold(value))


def _fulltext(value: str, fulltext_col: str, substring: bool = False) -> Column:
    # P7 — ES _all match with operator:and (query_shim.py:123-133).
    # The engine precomputes `fulltext` = lower(concat_ws(' ', *text_cols))
    # at write time. Default semantics: every query token must match a
    # WHOLE analyzer token of the fulltext column (what ES's analyzed
    # `_all` with operator:and does — query 'cat' does not match document
    # 'cats', but DOES match 'cat,' since the analyzer strips punctuation),
    # the same whole_token_match as plans/skipping.fulltext_scan's
    # residual, so the token index can prune for shim queries.
    # ``substring: true`` in the spec opts into the legacy contains()
    # semantics (whitespace query tokenization there, so punctuation in
    # the query probes the raw text).
    from idb_backend_spark.functions.text import whole_token_match

    if value is None:
        raise ShimError("fulltext predicate requires a 'value'")
    value = str(value)  # numbers etc. probe their string form, as in ES
    if substring:
        toks = [t for t in value.lower().split() if t]
        if not toks:
            return F.lit(True)
        return reduce(
            operator.and_, [F.col(fulltext_col).contains(t) for t in toks]
        )
    # shared single-source matcher (functions/text.py) — identical
    # expression to the token-index residual, by construction
    return whole_token_match(fulltext_col, value)


def _geo_bounding_box(field: str, spec: dict) -> Column:
    # P8 — point within box (query_shim.py:68-69). `field` is a struct col
    # with `lat`/`lon` subfields (the engine's geopoint type, SURVEY §1.4).
    tl, br = spec["top_left"], spec["bottom_right"]
    lat, lon = F.col(f"{field}.lat"), F.col(f"{field}.lon")
    lat_ok = (lat <= F.lit(tl["lat"])) & (lat >= F.lit(br["lat"]))
    if tl["lon"] <= br["lon"]:
        lon_ok = (lon >= F.lit(tl["lon"])) & (lon <= F.lit(br["lon"]))
    else:  # antimeridian-crossing box splits into two intervals
        lon_ok = (lon >= F.lit(tl["lon"])) | (lon <= F.lit(br["lon"]))
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
    # emission mirrors the same least())
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


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


def _geo_distance(field: str, spec: dict) -> Column:
    # P9 — point within `distance` of {lat, lon} (query_shim.py:72-82)
    km = parse_distance_km(spec["distance"])
    return (
        haversine_km(
            F.col(f"{field}.lat"),
            F.col(f"{field}.lon"),
            F.lit(float(spec["lat"])),
            F.lit(float(spec["lon"])),
        )
        <= F.lit(km)
    )


def point_in_polygon(lat: Column, lon: Column, polygon: list) -> Column:
    """P10/P11 — ray-casting point-in-polygon as a *native* expression.

    ``polygon`` is a list of [lon, lat] vertices (GeoJSON ring order,
    reference query_shim.py:85-90). Because the polygon is a query-time
    constant, we unroll the crossing test over its edges into a boolean
    XOR chain — no UDF, stays in WholeStageCodegen, pushdown-friendly.
    """
    if polygon[0] == polygon[-1]:
        polygon = polygon[:-1]
    n = len(polygon)
    inside = F.lit(False)
    for i in range(n):
        x1, y1 = float(polygon[i][0]), float(polygon[i][1])
        x2, y2 = float(polygon[(i + 1) % n][0]), float(polygon[(i + 1) % n][1])
        if y1 == y2:
            continue  # horizontal edge never crosses a horizontal ray test
        crosses = ((F.lit(y1) > lat) != (F.lit(y2) > lat)) & (
            lon < (lat - F.lit(y1)) * F.lit((x2 - x1) / (y2 - y1)) + F.lit(x1)
        )
        inside = inside != crosses  # boolean XOR accumulates crossing parity
    return inside


def _geo_polygon(field: str, spec: Any) -> Column:
    points = spec["points"] if isinstance(spec, dict) else spec
    return point_in_polygon(F.col(f"{field}.lat"), F.col(f"{field}.lon"), points)


def _geo_shape(field: str, spec: dict) -> Column:
    # P10 — GeoJSON shape containment (query_shim.py:85-86). Polygon rings
    # compile natively; other geometry types would route to Sedona when
    # available.
    #
    # Sweep note (pinned in tests/test_shim.py
    # test_reference_python_shim_geo_shape_is_broken): the reference's
    # PYTHON shim — the one its download/export pipeline uses — cannot
    # actually serve this type: geoShape/geoPolygon wrap the spec as
    # {"shape"|"points": shimK} before typeWrapper's `del qd["type"]`
    # (query_shim.py:85-89, 38-45), a guaranteed KeyError that
    # singleFilter's bare except swallows into a None filter
    # (query_shim.py:160-170) — the download job ships ES `{"and":
    # [null]}` and fails. Only the separate live-search service handles
    # geo_shape. This engine compiles both types for the download path
    # too: the evident intent, not the crash.
    gtype = spec.get("type", "").lower()
    if gtype == "polygon":
        rings = spec["coordinates"]
        outer = _geo_polygon(field, rings[0])
        for hole in rings[1:]:
            outer = outer & ~_geo_polygon(field, hole)
        return outer
    if gtype == "multipolygon":
        return reduce(
            operator.or_,
            [_geo_shape(field, {"type": "polygon", "coordinates": p}) for p in spec["coordinates"]],
        )
    if gtype == "envelope":
        # GeoJSON/ES envelope order is [[west, north], [east, south]];
        # LONGITUDES keep their declared order — west > east is the
        # legitimate antimeridian-crossing form, which
        # _geo_bounding_box's split-interval branch handles. min/max
        # normalization would invert such a box into its complement.
        (x1, y1), (x2, y2) = spec["coordinates"]
        return _geo_bounding_box(
            field,
            {
                "top_left": {"lat": max(y1, y2), "lon": x1},
                "bottom_right": {"lat": min(y1, y2), "lon": x2},
            },
        )
    raise ShimError(f"unsupported geo_shape type: {gtype!r}")


def _object_predicate(
    field: str, spec: dict, assume_lowercased: bool, fulltext_col: str
) -> Column:
    # objectType dispatch (query_shim.py:135-155)
    t = spec.get("type")
    if t == "exists":
        return F.col(field).isNotNull()  # P3, query_shim.py:23-28
    if t == "missing":
        return F.col(field).isNull()  # P4, query_shim.py:31-36
    if t == "range" or (t is None and set(spec) & {"gte", "lte", "gt", "lt"}):
        return _range(field, spec)
    if t == "prefix" or (t is None and set(spec) == {"prefix"}):
        return _prefix(field, spec.get("value", spec.get("prefix")), assume_lowercased)
    # Typeless fulltext shape is matched strictly (only analyzer/substring
    # keys allowed) so a malformed spec mixing 'fulltext' with e.g. geo
    # keys raises ShimError instead of silently compiling fulltext-only.
    if t == "fulltext" or (
        t is None and "fulltext" in spec and set(spec) <= {"fulltext", "substring"}
    ):
        return _fulltext(
            spec.get("value", spec.get("fulltext")),
            fulltext_col,
            bool(spec.get("substring", False)),
        )
    if t == "geo_bounding_box" or (
        t is None and set(spec) >= {"top_left", "bottom_right"}
    ):
        return _geo_bounding_box(field, spec)
    if t == "geo_distance" or (t is None and set(spec) >= {"distance", "lat", "lon"}):
        return _geo_distance(field, spec)
    if t == "geo_polygon" or (t is None and set(spec) == {"points"}):
        return _geo_polygon(field, spec)
    if (
        t == "geo_shape"
        # bare GeoJSON: its mandatory 'type' is the GEOMETRY type
        # ('Polygon'/'MultiPolygon'/'envelope', case per the GeoJSON
        # spec), which must route here — the old typeless-only arm could
        # never fire on valid GeoJSON
        or (
            isinstance(t, str)
            and t.lower() in ("polygon", "multipolygon", "envelope")
            and "coordinates" in spec
        )
        or (t is None and {"coordinates"} <= set(spec))
    ):
        return _geo_shape(field, spec.get("shape", spec))
    raise ShimError(f"unrecognized predicate object for {field!r}: {spec!r}")


def single_filter(
    field: str,
    cond: Any,
    assume_lowercased: bool = False,
    fulltext_col: str = "fulltext",
) -> Column:
    """One field predicate (reference singleFilter, query_shim.py:157-169)."""
    if isinstance(cond, dict):
        return _object_predicate(field, cond, assume_lowercased, fulltext_col)
    if isinstance(cond, list):
        return _terms(field, cond, assume_lowercased)
    return _term(field, cond, assume_lowercased)


def compile_shim(
    shim: dict | None,
    assume_lowercased: bool = False,
    fulltext_col: str = "fulltext",
) -> Column:
    """Compile a shim to the AND of its per-field predicates.

    Empty/None shim ⇒ match-all (reference query_shim.py:194-195).
    """
    if not shim:
        return F.lit(True)
    preds = [
        single_filter(f, c, assume_lowercased, fulltext_col) for f, c in shim.items()
    ]
    return reduce(operator.and_, preds)


# --------------------------------------------------------------------------
# ANSI SQL emission (oracle parity / documentation of semantics)
# --------------------------------------------------------------------------


def _sql_lit(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _sql_col(field: str, value_is_str: bool, assume_lowercased: bool) -> str:
    return field if (assume_lowercased or not value_is_str) else f"lower({field})"


def _sql_single(field: str, cond: Any, assume_lowercased: bool, fulltext_col: str) -> str:
    if isinstance(cond, list):
        if not cond:
            # the Column path compiles isin([]) to always-false; 'IN ()'
            # is a syntax error in DuckDB, so emit the same constant
            return "FALSE"
        any_str = any(isinstance(v, str) for v in cond)
        vals = ", ".join(_sql_lit(_fold(v)) for v in cond)
        return f"{_sql_col(field, any_str, assume_lowercased)} IN ({vals})"
    if isinstance(cond, dict):
        t = cond.get("type")
        if t == "exists":
            return f"{field} IS NOT NULL"
        if t == "missing":
            return f"{field} IS NULL"
        keys = set(cond) & {"gte", "lte", "gt", "lt"}
        # (t is None and keys), not bare keys: a contradicting type like
        # {'type': 'weird', 'gte': 5} must fall through to the same
        # unrecognized-spec error the Column path raises, not silently
        # compile as a range on one emitter only
        if t == "range" or (t is None and keys):
            if not keys:
                # lockstep with _range: '()' would be a DuckDB syntax
                # error surfacing far from the malformed spec
                raise ShimError(f"empty range spec for {field!r}: {cond!r}")
            ops = {"gte": ">=", "lte": "<=", "gt": ">", "lt": "<"}
            return " AND ".join(
                f"{field} {ops[k]} {_sql_lit(cond[k])}"
                for k in ("gte", "gt", "lte", "lt")
                if k in cond
            )
        if t == "prefix" or set(cond) == {"prefix"}:
            raw_v = cond.get("value", cond.get("prefix"))
            if raw_v is None:
                # lockstep with _prefix's Column path
                raise ShimError(
                    f"prefix predicate for {field!r} requires a value"
                )
            v = _fold(raw_v)
            # backslash first, then the LIKE metachars; the ESCAPE clause
            # is REQUIRED — DuckDB has no default escape character, so a
            # bare 'my\_val%' pattern would demand a literal backslash
            # and silently match nothing
            pat = (
                v.replace("\\", "\\\\")
                .replace("%", r"\%")
                .replace("_", r"\_")
            )
            return (
                f"{_sql_col(field, True, assume_lowercased)} "
                f"LIKE {_sql_lit(pat + '%')} ESCAPE '\\'"
            )
        if t == "fulltext" or (
            t is None
            and "fulltext" in cond
            and set(cond) <= {"fulltext", "substring"}
        ):
            raw = cond.get("value", cond.get("fulltext"))
            if raw is None:
                # keep the two emitters in lockstep: the Column path
                # raises for a value-less spec, so the SQL path must not
                # silently search for the token 'none'
                raise ShimError("fulltext predicate requires a 'value'")
            value = str(raw)
            if cond.get("substring"):
                toks = value.lower().split()
                if not toks:
                    return "TRUE"
                # the Column path is a literal contains(); escape LIKE
                # metachars (and declare the escape char) so a token such
                # as '100%' stays a literal probe instead of a wildcard
                pats = [
                    tk.replace("\\", "\\\\")
                    .replace("%", r"\%")
                    .replace("_", r"\_")
                    for tk in toks
                ]
                return (
                    "("
                    + " AND ".join(
                        f"{fulltext_col} LIKE {_sql_lit('%' + p + '%')}"
                        " ESCAPE '\\'"
                        for p in pats
                    )
                    + ")"
                )
            # whole-token conjunction from the ONE SQL twin in
            # functions/text.py (whole_token_match_sql — same tokenizer
            # regex as analyzer_tokens, RE2's \p classes mirror Java's);
            # an inline copy here had already drifted by dropping the
            # sorted-set token dedup
            from idb_backend_spark.functions.text import whole_token_match_sql

            return whole_token_match_sql(fulltext_col, value)
        # (t is None and ...) on both geo arms — same emitter-lockstep
        # rule as the range branch: a contradicting explicit type must
        # fall through to the same error the Column path raises
        if t == "geo_bounding_box" or (
            t is None and set(cond) >= {"top_left", "bottom_right"}
        ):
            tl, br = cond["top_left"], cond["bottom_right"]
            lat, lon = f"{field}.lat", f"{field}.lon"
            lat_ok = f"({lat} <= {tl['lat']} AND {lat} >= {br['lat']})"
            if tl["lon"] <= br["lon"]:
                lon_ok = f"({lon} >= {tl['lon']} AND {lon} <= {br['lon']})"
            else:
                lon_ok = f"({lon} >= {tl['lon']} OR {lon} <= {br['lon']})"
            return f"({lat_ok} AND {lon_ok})"
        if t == "geo_distance" or (
            t is None and set(cond) >= {"distance", "lat", "lon"}
        ):
            km = parse_distance_km(cond["distance"])
            lat, lon = f"{field}.lat", f"{field}.lon"
            qlat, qlon = float(cond["lat"]), float(cond["lon"])
            a = (
                f"pow(sin(radians({lat} - ({qlat})) / 2), 2)"
                f" + cos(radians({qlat})) * cos(radians({lat}))"
                f" * pow(sin(radians({lon} - ({qlon})) / 2), 2)"
            )
            return (
                f"(2 * {EARTH_RADIUS_KM} * asin(sqrt(least({a}, 1.0)))"
                f" <= {km})"
            )
        raise ShimError(f"SQL emission unsupported for {field!r}: {cond!r}")
    v = _fold(cond)
    return f"{_sql_col(field, isinstance(cond, str), assume_lowercased)} = {_sql_lit(v)}"


def shim_to_sql(
    shim: dict | None,
    assume_lowercased: bool = False,
    fulltext_col: str = "fulltext",
) -> str:
    """Equivalent ANSI-SQL WHERE expression for the shim (DuckDB-runnable)."""
    if not shim:
        return "TRUE"
    return " AND ".join(
        f"({_sql_single(f, c, assume_lowercased, fulltext_col)})"
        for f, c in shim.items()
    )
