"""F6/F7 kernels — datum shift and reverse geocoding
(reference conversions.py:485-563; idb/helpers/rg.py).

Architecture (the part that matters at 100 TB):

* The pure-expression coordinate normalization (flip/bounds/precision)
  lives in enrichment.with_geo_normalize — native, codegen'd, free.
* The datum shift is native too: ``with_molodensky_shift`` runs the
  abridged Molodensky arithmetic over a broadcast 34-datum parameter
  table; ``molodensky_shift_py`` is its scalar reference.
* The point-in-polygon reverse geocode is irreducibly Python and runs
  as an Arrow-batched pandas UDF. It broadcasts its polygon table once
  per executor and prunes candidates with the reference's 1°-bucket
  coarse grid (rg.py:21-50) before any exact containment test — the
  polygon set is a dimension table, never shuffled with the data.

shapely is optional: without it the reverse geocoder falls back to a
pure-Python ray cast with identical semantics for simple rings.
"""

from __future__ import annotations

import re

import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

#: Datum alias normalization (conversions.py:423-430, extended with the
#: mangled verbose spellings providers actually write; keys are already
#: mangle_string()-normalized — uppercase, alphanumerics only).
DATUM_ALIASES = {
    "WORLDGEODETICSYSTEM1984": "WGS84",
    "WORLDGEODETICSYSTEM84": "WGS84",
    "WORLDGEODETICSYSTEM1972": "WGS72",
    "NORTHAMERICANDATUM1983": "NAD83",
    "NORTHAMERICANDATUM1927": "NAD27",
    "EUROPEANDATUM1950": "ED50",
    "EUROPEAN1950": "ED50",
    "ED1950": "ED50",
    "TOKYODATUM": "TOKYO",
    "AUSTRALIANGEODETICDATUM1966": "AGD66",
    "AUSTRALIANGEODETICDATUM1984": "AGD84",
    "SOUTHAMERICANDATUM1969": "SAD69",
    "ORDNANCESURVEYGREATBRITAIN1936": "OSGB36",
    "OSGB1936": "OSGB36",
    "PULKOVO1942": "PULKOVO42",
    "NEWZEALANDGEODETICDATUM1949": "NZGD49",
    "GEODETICDATUM1949": "NZGD49",
    "IRELAND1965": "IRE65",
    "DHDN": "POTSDAM",
    "DEUTSCHESHAUPTDREIECKSNETZ": "POTSDAM",
    "GREEKGEODETICREFERENCESYSTEM1987": "GGRS87",
    # EPSG geographic-2D codes for the datums above — the reference's
    # second resolution path (conversions.py:440-443 feeds the raw
    # string to CRS.from_user_input, which accepts 'EPSG:4267' and bare
    # '4267'); the code->datum pairs are the public EPSG registry.
    # Keys are mangle_string()-normalized, so 'EPSG:4267' arrives as
    # 'EPSG4267'; the bare numeric form is included because pyproj
    # accepts it too. ITRF-aligned codes resolve to IDENTITY_DATUMS
    # members (no shift), matching the reference's no-op transform.
    "EPSG4326": "WGS84",
    "4326": "WGS84",
    "EPSG4322": "WGS72",
    "4322": "WGS72",
    "EPSG4269": "NAD83",
    "4269": "NAD83",
    "EPSG4267": "NAD27",
    "4267": "NAD27",
    "EPSG4230": "ED50",
    "4230": "ED50",
    "EPSG4301": "TOKYO",
    "4301": "TOKYO",
    "EPSG4202": "AGD66",
    "4202": "AGD66",
    "EPSG4203": "AGD84",
    "4203": "AGD84",
    "EPSG4618": "SAD69",
    "4618": "SAD69",
    "EPSG4277": "OSGB36",
    "4277": "OSGB36",
    "EPSG4299": "IRE65",
    "4299": "IRE65",
    "EPSG4272": "NZGD49",
    "4272": "NZGD49",
    "EPSG4284": "PULKOVO42",
    "4284": "PULKOVO42",
    "EPSG4222": "CAPE",
    "4222": "CAPE",
    "EPSG4209": "ARC1950",
    "4209": "ARC1950",
    "EPSG4223": "CARTHAGE",
    "4223": "CARTHAGE",
    "EPSG4314": "POTSDAM",
    "4314": "POTSDAM",
    "EPSG4312": "HERMANNSKOGEL",
    "4312": "HERMANNSKOGEL",
    "EPSG4121": "GGRS87",
    "4121": "GGRS87",
    "EPSG4283": "GDA94",
    "4283": "GDA94",
    "EPSG4258": "ETRS89",
    "4258": "ETRS89",
    "EPSG4612": "JGD2000",
    "4612": "JGD2000",
    "EPSG4674": "SIRGAS2000",
    "4674": "SIRGAS2000",
    # regional datums (see MOLODENSKY_PARAMS below): verbose
    # provider spellings + the EPSG geographic-2D codes, same
    # mangle-normalized key discipline as the rows above.
    "PROVISIONALSOUTHAMERICANDATUM1956": "PSAD56",
    "PSAD1956": "PSAD56",
    "EPSG4248": "PSAD56",
    "4248": "PSAD56",
    "EPSG4201": "ADINDAN",
    "4201": "ADINDAN",
    "CORREGOALEGRE197072": "CORREGOALEGRE",
    "EPSG4225": "CORREGOALEGRE",
    "4225": "CORREGOALEGRE",
    "EPSG4221": "CAMPOINCHAUSPE",
    "4221": "CAMPOINCHAUSPE",
    "BOGOTA1975": "BOGOTA",
    "BOGOTAOBSERVATORY": "BOGOTA",
    "EPSG4218": "BOGOTA",
    "4218": "BOGOTA",
    "LUZON1911": "LUZON",
    "EPSG4253": "LUZON",
    "4253": "LUZON",
    "EPSG4135": "OLDHAWAIIAN",
    "4135": "OLDHAWAIIAN",
    "EPSG4139": "PUERTORICO",
    "4139": "PUERTORICO",
    "HUTZUSHAN1950": "HUTZUSHAN",
    "EPSG4236": "HUTZUSHAN",
    "4236": "HUTZUSHAN",
    "EPSG4239": "INDIAN1954",
    "4239": "INDIAN1954",
    "KERTAU1948": "KERTAU",
    "KERTAU1968": "KERTAU",
    "EPSG4245": "KERTAU",
    "4245": "KERTAU",
    "TIMBALAI1948": "TIMBALAI",
    "EPSG4298": "TIMBALAI",
    "4298": "TIMBALAI",
    "QORNOQ1927": "QORNOQ",
    "EPSG4194": "QORNOQ",
    "4194": "QORNOQ",
    "EPSG4263": "MINNA",
    "4263": "MINNA",
    "EPSG4293": "SCHWARZECK",
    "4293": "SCHWARZECK",
    "OLDEGYPTIAN": "EGYPT1907",
    "OLDEGYPTIAN1907": "EGYPT1907",
    "EPSG4229": "EGYPT1907",
    "4229": "EGYPT1907",
    "NOUVELLETRIANGULATIONFRANCAISE": "NTF",
    "EPSG4275": "NTF",
    "4275": "NTF",
}

# --------------------------------------------------------------------------
# Abridged Molodensky datum shift → WGS84 (public parameters: DMA TR
# 8350.2 mean three-parameter shifts; GGRS87/Carthage from the proj
# datum registry). This is the NATIVE path for the datums the reference
# reaches through proj's +datum= registry plus the other majors — pure
# arithmetic on trig built-ins, fully codegen'd, no Python in the hot
# loop. A datum outside the table flags ``geopoint_datum_error``: there
# is no pyproj path for arbitrary CRS strings (7-parameter / grid-shift
# accuracy).
# --------------------------------------------------------------------------

#: WGS84 ellipsoid.
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563

# Source ellipsoids (public geodetic constants).
_CLARKE_1866 = (6378206.4, 1.0 / 294.9786982)
_INTL_1924 = (6378388.0, 1.0 / 297.0)
_BESSEL_1841 = (6377397.155, 1.0 / 299.1528128)
_BESSEL_NAMIBIA = (6377483.865, 1.0 / 299.1528128)
_AIRY_1830 = (6377563.396, 1.0 / 299.3249646)
_AIRY_MOD = (6377340.189, 1.0 / 299.3249646)
_AUSTRALIAN = (6378160.0, 1.0 / 298.25)
_KRASSOVSKY = (6378245.0, 1.0 / 298.3)
_CLARKE_1880 = (6378249.145, 1.0 / 293.465)
_CLARKE_1880_IGN = (6378249.2, 1.0 / 293.466021)
_GRS80 = (6378137.0, 1.0 / 298.257222101)
_EVEREST_1830 = (6377276.345, 1.0 / 300.8017)   # India 1830 (1937 adj.)
_EVEREST_1948 = (6377304.063, 1.0 / 300.8017)   # W. Malaysia & Singapore
_EVEREST_SS = (6377298.556, 1.0 / 300.8017)     # Sabah & Sarawak (Brunei)
_HELMERT_1906 = (6378200.0, 1.0 / 298.3)

#: datum -> (a, f, dx, dy, dz, dlam_arcsec). dx/dy/dz are the
#: source→WGS84 geocentric shifts in meters (DMA TR 8350.2 regional
#: means); dlam_arcsec carries WGS72's 0.554″ Z-axis rotation as the
#: constant longitude term of the official DMA WGS72→WGS84 formula.
#: NAD27 uses the CONUS mean shift, ED50 mean Europe, OSGB36 mean GB,
#: ARC1950 mean, SAD69 mean South America, PULKOVO42 Russia.
MOLODENSKY_PARAMS: dict[str, tuple[float, float, float, float, float, float]] = {
    "NAD27": (*_CLARKE_1866, -8.0, 160.0, 176.0, 0.0),
    "WGS72": (6378135.0, 1.0 / 298.26, 0.0, 0.0, 4.5, 0.554),
    "ED50": (*_INTL_1924, -87.0, -98.0, -121.0, 0.0),
    "TOKYO": (*_BESSEL_1841, -148.0, 507.0, 685.0, 0.0),
    "AGD66": (*_AUSTRALIAN, -133.0, -48.0, 148.0, 0.0),
    "AGD84": (*_AUSTRALIAN, -134.0, -48.0, 149.0, 0.0),
    "SAD69": (*_AUSTRALIAN, -57.0, 1.0, -41.0, 0.0),
    "OSGB36": (*_AIRY_1830, 375.0, -111.0, 431.0, 0.0),
    "IRE65": (*_AIRY_MOD, 506.0, -122.0, 611.0, 0.0),
    "NZGD49": (*_INTL_1924, 84.0, -22.0, 209.0, 0.0),
    "PULKOVO42": (*_KRASSOVSKY, 28.0, -130.0, -95.0, 0.0),
    "CAPE": (*_CLARKE_1880, -136.0, -108.0, -292.0, 0.0),
    "ARC1950": (*_CLARKE_1880, -143.0, -90.0, -294.0, 0.0),
    "CARTHAGE": (*_CLARKE_1880_IGN, -263.0, 6.0, 431.0, 0.0),
    "POTSDAM": (*_BESSEL_1841, 606.0, 23.0, 413.0, 0.0),
    "HERMANNSKOGEL": (*_BESSEL_1841, 653.0, -212.0, 449.0, 0.0),
    "GGRS87": (*_GRS80, -199.87, 74.79, 246.62, 0.0),
    # the additional regional datums biodiversity
    # provider data actually carries (verbatimSRS/geodeticDatum values
    # across Latin-American, African, and SE-Asian collections); same
    # public source as the rows above: NIMA/DMA TR 8350.2 local mean
    # 3-parameter shifts, NTF from the IGN-published mean also in the
    # proj datum registry. Goldens: tests/test_molodensky_goldens.py
    # (independent geocentric-Helmert generator, gen_molodensky_goldens).
    "ADINDAN": (*_CLARKE_1880, -166.0, -15.0, 204.0, 0.0),
    "PSAD56": (*_INTL_1924, -288.0, 175.0, -376.0, 0.0),
    "CORREGOALEGRE": (*_INTL_1924, -206.0, 172.0, -6.0, 0.0),
    "CAMPOINCHAUSPE": (*_INTL_1924, -148.0, 136.0, 90.0, 0.0),
    "BOGOTA": (*_INTL_1924, 307.0, 304.0, -318.0, 0.0),
    "LUZON": (*_CLARKE_1866, -133.0, -77.0, -51.0, 0.0),
    "OLDHAWAIIAN": (*_CLARKE_1866, 61.0, -285.0, -181.0, 0.0),
    "PUERTORICO": (*_CLARKE_1866, 11.0, 72.0, -101.0, 0.0),
    "HUTZUSHAN": (*_INTL_1924, -637.0, -549.0, -203.0, 0.0),
    "INDIAN1954": (*_EVEREST_1830, 217.0, 823.0, 299.0, 0.0),
    "KERTAU": (*_EVEREST_1948, -11.0, 851.0, 5.0, 0.0),
    "TIMBALAI": (*_EVEREST_SS, -679.0, 669.0, -48.0, 0.0),
    "QORNOQ": (*_INTL_1924, 164.0, 138.0, -189.0, 0.0),
    "MINNA": (*_CLARKE_1880, -92.0, -93.0, 122.0, 0.0),
    "SCHWARZECK": (*_BESSEL_NAMIBIA, 616.0, 97.0, -251.0, 0.0),
    "EGYPT1907": (*_HELMERT_1906, -130.0, 110.0, -13.0, 0.0),
    "NTF": (*_CLARKE_1880_IGN, -168.0, -60.0, 320.0, 0.0),
}

#: Datums treated as identical to WGS84 at this engine's precision
#: (NAD83≈WGS84 within ~1-2 m; modern ITRF-aligned national datums
#: likewise; the reference also passes these through).
IDENTITY_DATUMS = {
    "WGS84", "NAD83", "EPSG4326", "GRS80", "ETRS89",
    "GDA94", "GDA2020", "JGD2000", "JGD2011", "SIRGAS2000", "ITRF",
}


def _molodensky_terms(datum: str) -> tuple[float, float, float, float, float, float, float, float]:
    """Precompute the per-datum constants (e², aΔf+fΔa, …) once."""
    a, f, dx, dy, dz, dlam_sec = MOLODENSKY_PARAMS[datum]
    e2 = 2.0 * f - f * f
    adf_fda = a * (WGS84_F - f) + f * (WGS84_A - a)
    return a, e2, dx, dy, dz, adf_fda, dlam_sec, f


def molodensky_shift_py(
    lat: float, lon: float, datum: str
) -> tuple[float, float]:
    """One point through the abridged Molodensky shift — the scalar
    reference for ``with_molodensky_shift``. ``datum`` must be a key of
    MOLODENSKY_PARAMS."""
    a, e2, dx, dy, dz, adf_fda, dlam_sec, _f = _molodensky_terms(datum)
    phi, lam = math.radians(lat), math.radians(lon)
    sp, cp = math.sin(phi), math.cos(phi)
    sl, cl = math.sin(lam), math.cos(lam)
    w2 = 1.0 - e2 * sp * sp
    w = math.sqrt(w2)
    rm = a * (1.0 - e2) / (w2 * w)
    rn = a / w
    dphi = (-dx * sp * cl - dy * sp * sl + dz * cp + adf_fda * math.sin(2.0 * phi)) / rm
    dlam = (-dx * sl + dy * cl) / (rn * cp) + math.radians(dlam_sec / 3600.0)
    return lat + math.degrees(dphi), lon + math.degrees(dlam)


def _mol_dim(spark):
    """The 34-row per-datum Molodensky parameter DIMENSION that
    with_molodensky_shift broadcast-joins, from the same
    _molodensky_terms as the scalar kernel; columns carry the __mg_
    prefix the staged pipeline already reserves."""
    rows = []
    for d in sorted(MOLODENSKY_PARAMS):
        t = _molodensky_terms(d)
        rows.append(
            (
                d, float(t[0]), float(t[1]), float(t[2]), float(t[3]),
                float(t[4]), float(t[5]), math.radians(t[6] / 3600.0),
            )
        )
    return spark.createDataFrame(
        rows,
        "__mg_datum string, __mg_a double, __mg_e2 double, "
        "__mg_dx double, __mg_dy double, __mg_dz double, "
        "__mg_adf double, __mg_dlamc double",
    )


def with_molodensky_shift(
    df,
    lat: Column,
    lon: Column,
    datum_raw: Column,
    out_lat: str = "lat_wgs84",
    out_lon: str = "lon_wgs84",
    out_flag: str = "datum_flag",
):
    """F6 datum transform to WGS84 (conversions.py:485-509 semantics,
    abridged Molodensky arithmetic), staged at the DataFrame level.

    ``datum_raw`` is normalized here (normalize_datum_expr). ``out_flag``
    is 'geopoint_datum_missing' / 'geopoint_datum_error' / NULL, and
    unknown or missing datums pass coordinates through unchanged — the
    reference's failure contract. Poles (|lat| = 90) pass through (Δλ is
    undefined there).

    The seven per-datum constants come from a BROADCAST join against
    the 34-row parameter dimension, not per-constant CASE chains over
    the datum: an inline CASE form re-inlines the normalized-datum
    subtree at every constant site (~datums × 7), which breaches
    janino's 64 KB method limit, and its 7 × 17-arm string-compare CASEs
    made the fused generated method too large for HotSpot's JIT, so the
    whole consume loop (trig included) ran as interpreted bytecode —
    measured 4.7x slower than the join form on the 600k-row enrichment
    bench. A left join on a unique key preserves rows; an unknown/NULL
    datum gets NULL constants. The Δφ term is ``2·sinφ·cosφ``, not
    ``sin 2φ``, to match the DuckDB oracle chain
    (synth.molodensky_cte_chain) bit for bit. Adds out_lat/out_lon/
    out_flag; temp columns dropped.
    """
    tmp = df.withColumns(
        {
            "__mg_lat": lat.cast("double"),
            "__mg_lon": lon.cast("double"),
            "__mg_datum": normalize_datum_expr(datum_raw),
        }
    )

    joined = tmp.join(
        F.broadcast(_mol_dim(df.sparkSession)), on="__mg_datum", how="left"
    )

    lat_c, lon_c = F.col("__mg_lat"), F.col("__mg_lon")
    phi = F.radians(lat_c)
    staged = joined.withColumns(
        {
            "__mg_sp": F.sin(phi), "__mg_cp": F.cos(phi),
            "__mg_sl": F.sin(F.radians(lon_c)),
            "__mg_cl": F.cos(F.radians(lon_c)),
        }
    ).withColumns(
        {"__mg_w2": F.lit(1.0) - F.col("__mg_e2") * F.col("__mg_sp") * F.col("__mg_sp")}
    )

    p_a, p_e2 = F.col("__mg_a"), F.col("__mg_e2")
    p_dx, p_dy, p_dz = F.col("__mg_dx"), F.col("__mg_dy"), F.col("__mg_dz")
    p_adf, p_dlam = F.col("__mg_adf"), F.col("__mg_dlamc")
    sp, cp = F.col("__mg_sp"), F.col("__mg_cp")
    sl, cl = F.col("__mg_sl"), F.col("__mg_cl")
    w2 = F.col("__mg_w2")
    w = F.sqrt(w2)
    rm = p_a * (F.lit(1.0) - p_e2) / (w2 * w)
    rn = p_a / w
    dphi = (
        -p_dx * sp * cl - p_dy * sp * sl + p_dz * cp
        + p_adf * (F.lit(2.0) * sp * cp)
    ) / rm
    dlam = (-p_dx * sl + p_dy * cl) / (rn * cp) + p_dlam

    dn = F.col("__mg_datum")
    have = lat_c.isNotNull() & lon_c.isNotNull()
    missing = dn.isNull() | (F.trim(dn) == "")
    at_pole = F.abs(lat_c) >= 90.0
    identity = dn.isin(*sorted(IDENTITY_DATUMS))
    apply_shift = have & ~at_pole & p_a.isNotNull()
    flag = F.when(have & missing, "geopoint_datum_missing").when(
        have & ~identity & p_a.isNull() & ~missing, "geopoint_datum_error"
    )
    out = staged.withColumns(
        {
            out_lat: F.when(apply_shift, lat_c + F.degrees(dphi)).otherwise(lat_c),
            out_lon: F.when(apply_shift, lon_c + F.degrees(dlam)).otherwise(lon_c),
            out_flag: flag,
        }
    )
    return out.drop(*[c for c in out.columns if c.startswith("__mg_")])


def normalize_datum_expr(datum_raw: Column) -> Column:
    """Native datum normalization: uppercase, strip non-alphanumerics,
    resolve aliases (conversions.py:312-316, 423-430).

    The alias table is a single literal map lookup — NOT a per-alias CASE
    chain, which would re-inline the regexp subtree once per alias and
    blow the 64 KB codegen method limit when composed into the shift."""
    # the reference's mangler is r"[\W]+" (conversions.py:311-316):
    # UNDERSCORES and unicode letters/digits SURVIVE the fold — so
    # 'NAD_83' stays 'NAD_83' (an UNKNOWN datum there, never shifted),
    # where an ASCII-only [^A-Za-z0-9] fold would alias it to NAD83 and
    # apply a shift the reference refuses (pinned by
    # test_reference_differential_etl::test_mangle_string_vs_reference).
    # \p{L}\p{N}_ is Python \w's exact class (isalnum + underscore) —
    # up to the JVM regex engine's Unicode version: letters assigned
    # after its tables (Arabic-Ext-B, Toto, ... — new in Unicode 14 vs
    # JDK 17's Unicode 13) are stripped here but survive Python's \W.
    # Machine-pinned, not fixed (tests/test_unicode_skew_sweep.py):
    # \p{L} cannot be spelled as an explicit class the way Nd can, and
    # real-world datum strings are ASCII registry names. py_upper_delta
    # closes the separate two-char case-mapping skew (the JVM's upper()
    # is AHEAD of CPython on U+0264/U+019B's Unicode-16 pairs).
    from idb_backend_spark.data.unicode_case_delta import py_upper_delta

    mangled = py_upper_delta(
        F.upper(F.regexp_replace(datum_raw, r"[^\p{L}\p{N}_]+", ""))
    )
    pairs = []
    for verbose, short in sorted(DATUM_ALIASES.items()):
        pairs.extend([F.lit(verbose), F.lit(short)])
    # try_element_at spells the missing-key->NULL contract explicitly
    # (map element_at/GetMapValue return NULL for missing keys on this
    # Spark regardless of ANSI; only out-of-bounds ARRAY indexes throw)
    return F.coalesce(F.try_element_at(F.create_map(*pairs), mangled), mangled)


def mangle_string(s: str) -> str:
    r"""The reference's mangleString exactly (conversions.py:311-316):
    strip ``[\W]+`` — keeping underscores and unicode alnums — then
    uppercase."""
    return re.sub(r"[\W]+", "", s).upper()


# --------------------------------------------------------------------------
# F7 — reverse geocoder with 1°-bucket coarse prefilter (rg.py:14-79).
# --------------------------------------------------------------------------


try:  # pragma: no cover - optional exact-geometry backend
    from shapely.geometry import Point as _ShpPoint
    from shapely.geometry import Polygon as _ShpPolygon
    from shapely.prepared import prep as _shp_prep

    HAVE_SHAPELY = True
except ImportError:
    HAVE_SHAPELY = False


def _ring_contains(ring: list[tuple[float, float]], lon: float, lat: float) -> bool:
    """Even-odd ray cast over one [ (lon, lat), ... ] ring (pure Python —
    the shapely-absent fallback; same crossing rule the shim's native
    point_in_polygon expression unrolls)."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if y1 == y2:
            continue
        if (y1 > lat) != (y2 > lat) and lon < (lat - y1) * (x2 - x1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def box_ring(x1: float, y1: float, x2: float, y2: float) -> list[tuple[float, float]]:
    """Rectangle as a ring (backward-compat for box-specified regions)."""
    return [(x1, y1), (x2, y1), (x2, y2), (x1, y2)]


class GridGeocoder:
    """Coarse-to-fine reverse geocoder (reference rg.py).

    ``regions`` maps iso code -> list of polygon rings (each a list of
    (lon, lat) vertices); 4-tuples are accepted as rectangles for
    backward compatibility. The 1° bucket index replicates the
    reference's prefilter exactly: a candidate set per integer
    (lon, lat) cell built from ring bounding boxes, exact containment
    only inside the shortlist. With shapely installed the containment
    test runs on prepared geometries; without it, a pure-Python even-odd
    ray cast — identical semantics for simple rings.

    The instance is built on the driver and shipped to executors inside a
    pandas UDF closure (broadcast-sized: a few thousand floats even for a
    world map at this granularity).
    """

    def __init__(self, regions: dict[str, list]):
        # shape = ("box", (x1, y1, x2, y2)) with inclusive-edge test, or
        # ("ring", [(lon, lat), ...]) with even-odd ray cast
        self.shapes: dict[str, list[tuple[str, object]]] = {}
        self.grid: dict[tuple[int, int], list[str]] = {}
        self._prepared: dict[tuple[str, int], object] = {}
        for code, shapes in regions.items():
            parsed: list[tuple[str, object]] = []
            for shape in shapes:
                if (
                    isinstance(shape, tuple)
                    and len(shape) == 4
                    and all(isinstance(v, (int, float)) for v in shape)
                ):
                    parsed.append(("box", tuple(float(v) for v in shape)))
                    xs = (shape[0], shape[2])
                    ys = (shape[1], shape[3])
                else:
                    ring = [(float(x), float(y)) for x, y in shape]
                    parsed.append(("ring", ring))
                    xs = [p[0] for p in ring]
                    ys = [p[1] for p in ring]
                for gx in range(math.floor(min(xs)), math.ceil(max(xs)) + 1):
                    for gy in range(math.floor(min(ys)), math.ceil(max(ys)) + 1):
                        cell = self.grid.setdefault((gx, gy), [])
                        if code not in cell:
                            cell.append(code)
            self.shapes[code] = parsed
            if HAVE_SHAPELY:  # pragma: no cover - shapely optional
                for i, (kind, geom) in enumerate(parsed):
                    if kind == "ring":
                        self._prepared[(code, i)] = _shp_prep(_ShpPolygon(geom))

    def _contains(self, code: str, i: int, kind: str, geom, lon: float,
                  lat: float) -> bool:
        if kind == "box":
            x1, y1, x2, y2 = geom
            return x1 <= lon <= x2 and y1 <= lat <= y2
        if HAVE_SHAPELY:  # pragma: no cover
            return self._prepared[(code, i)].intersects(_ShpPoint(lon, lat))
        return _ring_contains(geom, lon, lat)

    def lookup(self, lon: float, lat: float) -> str | None:
        cands = self.grid.get((math.floor(lon), math.floor(lat)))
        if not cands:
            return None
        for code in cands:
            for i, (kind, geom) in enumerate(self.shapes[code]):
                if self._contains(code, i, kind, geom, lon, lat):
                    return code
        return None


def default_geocoder() -> GridGeocoder:
    """Geocoder over the packaged coarse world outlines
    (data/world_regions.py)."""
    from idb_backend_spark.data.world_regions import WORLD_REGIONS

    return GridGeocoder(WORLD_REGIONS)


def default_eez_geocoder() -> GridGeocoder:
    """Geocoder over the packaged offshore EEZ bands (data/world_eez.py) —
    the marine fallback layer (reference rg.py:60-62 get_rg_eez over the
    EEZ_land shapefile)."""
    from idb_backend_spark.data.world_eez import WORLD_EEZ

    return GridGeocoder(WORLD_EEZ)


#: The reference's 8-way sign/axis flip search (conversions.py:530-547):
#: (lon, lat) candidates tried in order; flag name per slot.
FLIP_QUERIES = [
    (lambda lon, lat: (-lon, lat), "rev_geocode_lon_sign", False),
    (lambda lon, lat: (lon, -lat), "rev_geocode_lat_sign", False),
    (lambda lon, lat: (-lon, -lat), "rev_geocode_both_sign", False),
    (lambda lon, lat: (lat, lon), "rev_geocode_flip", True),
    (lambda lon, lat: (-lat, lon), "rev_geocode_flip_lat_sign", True),
    (lambda lon, lat: (lat, -lon), "rev_geocode_flip_lon_sign", True),
    (lambda lon, lat: (-lat, -lon), "rev_geocode_flip_both_sign", True),
]


def rev_geocode_py(
    geocoder: GridGeocoder,
    lon: float,
    lat: float,
    stated_iso: str | None,
    eez_geocoder: GridGeocoder | None = None,
) -> tuple[float, float, str | None, list[str]]:
    """One row of the reverse-geocode + flip-correction loop
    (conversions.py:513-563). Returns (lon, lat, country, flags).

    Lookup order is land THEN EEZ (conversions.py:514-519): an offshore
    specimen missing the land layer picks up its country from the marine
    EEZ bands with flag ``rev_geocode_eez``. The flip search then runs
    every candidate against the land layer first and the EEZ layer second
    (the reference's ``results = land-flips + eez-flips`` list,
    conversions.py:548-550); an EEZ-made correction adds
    ``rev_geocode_eez_corrected``. When flips are tested with a stated
    country the mismatch flag is set unconditionally
    (conversions.py:530) — including the failure case.
    """
    flags: list[str] = []
    country = geocoder.lookup(lon, lat)
    if country is None and eez_geocoder is not None:
        eez_hit = eez_geocoder.lookup(lon, lat)
        if eez_hit is not None:
            country = eez_hit
            flags.append("rev_geocode_eez")
    test_flips = False
    if country is None:
        flags.append("rev_geocode_failure")
        test_flips = True
    elif stated_iso and country.lower() != stated_iso.lower():
        flags.append("rev_geocode_mismatch")
        test_flips = True
    if stated_iso and test_flips:
        if "rev_geocode_mismatch" not in flags:
            flags.append("rev_geocode_mismatch")
        done = False
        for use_eez in (False, True):
            gc = eez_geocoder if use_eez else geocoder
            if gc is None or done:
                continue
            for fn, flag, needs_lat_range in FLIP_QUERIES:
                if needs_lat_range and abs(lon) > 90.0:
                    continue
                cand = fn(lon, lat)
                got = gc.lookup(*cand)
                if got is not None and got.lower() == stated_iso.lower():
                    lon, lat = cand
                    country = got
                    flags.append(flag)
                    if use_eez:
                        flags.append("rev_geocode_eez_corrected")
                    flags.append("rev_geocode_corrected")
                    done = True
                    break
    return lon, lat, country, flags


def rev_geocode_udf(
    geocoder: GridGeocoder, eez_geocoder: GridGeocoder | None = None
):
    """Build the pandas UDF bound to driver-constructed geocoders (land
    layer required, marine EEZ layer optional)."""
    schema = StructType(
        [
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("country", StringType()),
            StructField("flags", StringType()),
        ]
    )

    @F.pandas_udf(schema)
    def _udf(lon: pd.Series, lat: pd.Series, iso: pd.Series) -> pd.DataFrame:
        rows = []
        for lo, la, code in zip(lon, lat, iso):
            if (
                lo is None
                or la is None
                or (isinstance(lo, float) and math.isnan(lo))
                or (isinstance(la, float) and math.isnan(la))
            ):
                rows.append((None, None, None, None))
                continue
            code = None if (code is None or (isinstance(code, float) and math.isnan(code))) else str(code)
            lo2, la2, country, flags = rev_geocode_py(
                geocoder, lo, la, code, eez_geocoder
            )
            rows.append((lo2, la2, country, ",".join(flags) if flags else None))
        return pd.DataFrame(rows, columns=["lon", "lat", "country", "flags"])

    return _udf
