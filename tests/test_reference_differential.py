"""Differential check of the shim compiler against the REFERENCE's own
query compiler.

The reference's ``queryFromShim`` (idigbio_workers/lib/query_shim.py)
is pure stdlib and loads standalone; this test runs randomized shims
through BOTH compilers — the reference producing its ES filter DSL
(interpreted here by an independent mini-evaluator encoding ES filter
semantics: keyword-lowercase index model, range/prefix/exists/missing,
the antimeridian bounding-box wrap, haversine distance) and the engine
producing a Column — and asserts the matching row-id sets are
identical over randomized documents. This catches translation-level
drift (inverted bounds, folding misses, wrap errors) that per-predicate
goldens can't: the shims compose multiple fields and value shapes.

The reference module is EXECUTED as an oracle, never copied; the
evaluator is written from ES semantics.
"""

from __future__ import annotations

import importlib.util
import math
import random

from pyspark.sql import functions as F

from idb_backend_spark.query.shim import compile_shim, parse_distance_km

_REF_PATH = "/root/reference/idigbio_workers/lib/query_shim.py"


def _load_ref():
    spec = importlib.util.spec_from_file_location("ref_query_shim", _REF_PATH)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


# ---------------------------------------------------------------------------
# mini ES filter evaluator (independent of the engine)
# ---------------------------------------------------------------------------


def _haversine_km(lat1, lon1, lat2, lon2):
    r = 6371.0088
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1)
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


def _geo(doc):
    return doc.get("lat"), doc.get("lon")


def es_match(doc, f):
    if not f:
        return True  # the empty-filter special case (query_shim.py:194-195)
    if "and" in f:
        return all(es_match(doc, x) for x in f["and"])
    if "term" in f:
        ((k, v),) = f["term"].items()
        dv = doc.get(k)
        if dv is None:
            return False
        if isinstance(dv, str):
            dv = dv.lower()  # keyword fields are lowercased at index time
        return dv == v
    if "terms" in f:
        d = dict(f["terms"])
        d.pop("execution")
        ((k, vs),) = d.items()
        dv = doc.get(k)
        if dv is None:
            return False
        if isinstance(dv, str):
            dv = dv.lower()
        return dv in vs
    if "exists" in f:
        return doc.get(f["exists"]["field"]) is not None
    if "missing" in f:
        return doc.get(f["missing"]["field"]) is None
    if "range" in f:
        ((k, spec),) = f["range"].items()
        dv = doc.get(k)
        if dv is None:
            return False
        if "gte" in spec and not dv >= spec["gte"]:
            return False
        if "gt" in spec and not dv > spec["gt"]:
            return False
        if "lte" in spec and not dv <= spec["lte"]:
            return False
        if "lt" in spec and not dv < spec["lt"]:
            return False
        return True
    if "prefix" in f:
        ((k, v),) = f["prefix"].items()
        dv = doc.get(k)
        return dv is not None and dv.lower().startswith(v)
    if "geo_bounding_box" in f:
        ((k, spec),) = f["geo_bounding_box"].items()
        lat, lon = _geo(doc)
        if lat is None or lon is None:
            return False
        tl, br = spec["top_left"], spec["bottom_right"]
        if not (br["lat"] <= lat <= tl["lat"]):
            return False
        if tl["lon"] <= br["lon"]:
            return tl["lon"] <= lon <= br["lon"]
        # antimeridian wrap: the box crosses 180
        return lon >= tl["lon"] or lon <= br["lon"]
    if "geo_distance" in f:
        d = dict(f["geo_distance"])
        dist = parse_distance_km(d.pop("distance"))
        ((k, pt),) = d.items()
        lat, lon = _geo(doc)
        if lat is None or lon is None:
            return False
        return _haversine_km(lat, lon, pt["lat"], pt["lon"]) <= dist
    raise AssertionError(f"unhandled filter {f!r}")


# ---------------------------------------------------------------------------
# generators (seeded — deterministic corpus)
# ---------------------------------------------------------------------------

_WORDS = ["acer", "Quercus", "ULMUS", "beTULA", "pinus", "salix"]


def _docs(rng, n=60):
    docs = []
    for i in range(n):
        docs.append(
            {
                "id": i,
                "s": rng.choice(_WORDS + [None]),
                "n": rng.choice([None] + list(range(-5, 15))),
                "lat": rng.choice([None, round(rng.uniform(-80, 80), 3)]),
                "lon": round(rng.uniform(-180, 180), 3),
            }
        )
    return docs


def _shims(rng, n=40):
    out = [{}]  # the empty shim: match-all on both sides
    for _ in range(n):
        shim = {}
        for field in rng.sample(["s", "n", "geopoint"], rng.randint(1, 3)):
            if field == "s":
                shim["s"] = rng.choice(
                    [
                        rng.choice(_WORDS),
                        [rng.choice(_WORDS), rng.choice(_WORDS)],
                        {"type": "exists"},
                        {"type": "missing"},
                        {"type": "prefix", "value": rng.choice(["AC", "qu", "U", "z"])},
                    ]
                )
            elif field == "n":
                kind = rng.random()
                if kind < 0.4:
                    shim["n"] = rng.randint(-5, 14)
                else:
                    ops = rng.sample(["gte", "lte", "gt", "lt"], rng.randint(1, 2))
                    shim["n"] = {"type": "range", **{o: rng.randint(-5, 14) for o in ops}}
            else:
                if rng.random() < 0.5:
                    lats = sorted([rng.uniform(-80, 80), rng.uniform(-80, 80)])
                    # one in three boxes crosses the antimeridian
                    if rng.random() < 0.33:
                        l1, l2 = rng.uniform(100, 179), rng.uniform(-179, -100)
                    else:
                        l1, l2 = sorted([rng.uniform(-179, 179), rng.uniform(-179, 179)])
                    shim["geopoint"] = {
                        "type": "geo_bounding_box",
                        "top_left": {"lat": lats[1], "lon": l1},
                        "bottom_right": {"lat": lats[0], "lon": l2},
                    }
                else:
                    shim["geopoint"] = {
                        "type": "geo_distance",
                        "distance": f"{rng.randint(100, 5000)}km",
                        "lat": round(rng.uniform(-60, 60), 3),
                        "lon": round(rng.uniform(-170, 170), 3),
                    }
        out.append(shim)
    return out


def test_shim_compiler_matches_reference_dsl(spark, requires_reference):
    ref = _load_ref()
    rng = random.Random(1009)
    docs = _docs(rng)
    df = spark.createDataFrame(
        [
            (
                d["id"],
                d["s"],
                d["n"],
                {"lat": d["lat"], "lon": d["lon"]} if d["lat"] is not None else None,
            )
            for d in docs
        ],
        "id int, s string, n int, geopoint struct<lat:double,lon:double>",
    ).cache()
    mismatches = []
    for shim in _shims(rng):
        dsl = ref.queryFromShim(shim)
        filt = dsl["query"]["filtered"]["filter"]
        expect = {d["id"] for d in docs if es_match(d, filt)}
        got = {
            r["id"] for r in df.filter(compile_shim(shim)).select("id").collect()
        }
        if got != expect:
            mismatches.append((shim, sorted(expect ^ got)))
    assert not mismatches, mismatches[:3]


def test_uuid5_surrogates_match_reference(spark, requires_reference):
    """identification.py:6-21 executed against the engine's A4
    semantics. The reference passes ``name.encode('utf-8')`` into
    uuid5 — a py2 idiom: py2's uuid5 concatenates the raw bytes, which
    is byte-identical to py3's str path (``bytes(name, 'utf-8')``), so
    the engine's str-based uuid5 IS the reference's py2 behavior. On
    py3 the reference function itself CRASHES on any non-ascii-typed
    input (TypeError in uuid5's bytes() call) — pinned here so the
    py2-leftover is on record; the module's own namespace asserts
    (:7, :10) execute at import and double-check the engine's
    constants."""
    spec = importlib.util.spec_from_file_location(
        "ref_identification", "/root/reference/idigbio_workers/lib/identification.py"
    )
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)  # runs the reference's own asserts

    import uuid as _uuid

    import pytest as _pytest

    gn = _uuid.UUID("90181196-fecf-5082-a4c1-411d4f314cda")
    loc = _uuid.UUID("e8518454-3e95-5e2f-95b4-e4b25c6ebb53")
    assert ref.gn_namespace == gn and ref.locality_namespace == loc
    # the engine's distributed uuid5 expression equals python uuid5
    # (= py2's bytes path) for ascii, unicode, and empty inputs
    from idb_backend_spark.functions.enrichment import uuid5_expr

    names = ["Acer saccharum", "", "Ångström Läge", "x" * 300]
    df = spark.createDataFrame([(n,) for n in names], "v string")
    got = [
        r["o"]
        for r in df.select(uuid5_expr(F.col("v"), gn).alias("o")).collect()
    ]
    assert got == [str(_uuid.uuid5(gn, n)) for n in names]
    # the reference function is py2-only: py3 execution raises
    with _pytest.raises(TypeError):
        ref.identifiy_scientificname("Acer saccharum")
