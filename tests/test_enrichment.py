"""Golden-expectation tests for the enrichment library (SURVEY §2.8),
modeled on the reference's tabulated input→expected style
(tests/idb/test_helpers_conversions.py)."""

from __future__ import annotations

import datetime
import math
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from idb_backend_spark.functions import enrichment as E
from idb_backend_spark.functions.dates import parse_date_py, parsed_date
from idb_backend_spark.functions.flags import flag_column, fold_flags
from idb_backend_spark.functions.geo import (
    DATUM_ALIASES,
    GridGeocoder,
    mangle_string,
    rev_geocode_py,
    rev_geocode_udf,
)


# --------------------------------------------------------------------------
# F6 — geo normalization (flip / bounds / precision)
# --------------------------------------------------------------------------

GEO_CASES = [
    # (lat_raw, lon_raw, exp_lat, exp_lon, exp_flags)
    ("29.653", "-82.321", 29.653, -82.321, []),
    # flip: lat out of ±90 but valid as lon, lon within ±90 ("120.5" has one
    # decimal → the low-precision flag also fires, as in the reference)
    ("120.5", "45.125", 45.125, 120.5,
     ["geopoint_pre_flip", "geopoint_low_precision"]),
    # bounds violation → null point + flag
    ("95.0", "200.0", None, None, ["geopoint_bounds"]),
    # low precision (≤2 decimals)
    ("29.65", "-82.32", 29.65, -82.32, ["geopoint_low_precision"]),
    (None, "-82.32", None, None, []),
]


def test_geo_normalize(spark):
    df = spark.createDataFrame(
        [Row(i=i, lat=c[0], lon=c[1]) for i, c in enumerate(GEO_CASES)]
    )
    g = E.with_geo_normalize(df, F.col("lat"), F.col("lon"))
    out = (
        g.select(
            "i",
            F.col("__geo_lat").alias("olat"),
            F.col("__geo_lon").alias("olon"),
            fold_flags(
                F.col("__flag_pre_flip"),
                F.col("__flag_bounds"),
                F.col("__flag_low_precision"),
            ).alias("flags"),
        )
        .orderBy("i")
        .collect()
    )
    for row, (_, _, elat, elon, eflags) in zip(out, GEO_CASES):
        assert row.olat == pytest.approx(elat) if elat is not None else row.olat is None
        assert row.olon == pytest.approx(elon) if elon is not None else row.olon is None
        assert list(row.flags) == eflags


# --------------------------------------------------------------------------
# F8 — permissive date parse + fallback assembly
# --------------------------------------------------------------------------

DATE_CASES = [
    ("2009-02-13", datetime.datetime(2009, 2, 13)),
    ("2009-02-13T15:30:00Z", datetime.datetime(2009, 2, 13, 15, 30)),
    ("Feb 13, 2009", datetime.datetime(2009, 2, 13)),
    ("13 II 2009", None),  # roman-numeral month: dateutil rejects
    ("2009", datetime.datetime(2009, 1, 1)),  # default fill-in
    ("garbage", None),
]


def test_parse_date_py():
    for raw, expected in DATE_CASES:
        assert parse_date_py(raw) == expected, raw


def test_parsed_date_udf(spark):
    df = spark.createDataFrame(
        [Row(i=i, s=c[0]) for i, c in enumerate(DATE_CASES)]
    )
    out = df.select("i", parsed_date("s").alias("d")).orderBy("i").collect()
    for row, (_, expected) in zip(out, DATE_CASES):
        assert row.d == expected


def test_date_fallback(spark):
    rows = [
        # eventdate wins when present
        Row(i=0, ed=datetime.date(1999, 9, 9), y="2000", m="5", d="17", sdoy=None),
        Row(i=1, ed=None, y="2000", m="5", d="17", sdoy=None),
        # sdoy applies only WITH a month (reference nesting,
        # conversions.py:604-624): month present + no day -> Feb 1
        Row(i=2, ed=None, y="2000", m="1", d=None, sdoy="32"),  # Feb 1
        Row(i=3, ed=None, y="2000", m="5", d=None, sdoy=None),
        Row(i=4, ed=None, y="2000", m=None, d=None, sdoy=None),
        Row(i=5, ed=None, y=None, m=None, d=None, sdoy=None),
        # without a month, sdoy is IGNORED — the bare year parses Jan 1
        Row(i=6, ed=None, y="2000", m=None, d=None, sdoy="32"),
    ]
    df = spark.createDataFrame(rows)
    out = (
        df.select(
            "i",
            E.date_fallback(
                F.col("ed"), F.col("y"), F.col("m"), F.col("d"), F.col("sdoy")
            ).alias("dc"),
        )
        .orderBy("i")
        .collect()
    )
    expected = [
        datetime.date(1999, 9, 9),
        datetime.date(2000, 5, 17),
        datetime.date(2000, 2, 1),
        datetime.date(2000, 5, 1),
        datetime.date(2000, 1, 1),
        None,
        datetime.date(2000, 1, 1),
    ]
    assert [r.dc for r in out] == expected


# --------------------------------------------------------------------------
# F13 — basisOfRecord controlled vocabulary
# --------------------------------------------------------------------------

BOR_CASES = [
    ("PreservedSpecimen", "preservedspecimen", []),
    ("Fossil Specimen", "fossilspecimen", []),
    ("living plant", "livingspecimen", []),
    ("MaterialSample", "materialsample", []),
    ("weird specimen", "preservedspecimen", []),
    ("machine observation", "machineobservation", []),
    ("Human Observation", "humanobservation", []),
    ("occurrence", "occurrence", []),
    (
        "Exsiccati",
        None,
        ["dwc_basisofrecord_removed", "dwc_basisofrecord_invalid"],
    ),
    (None, None, ["dwc_basisofrecord_invalid"]),
]


def test_fix_basis_of_record(spark):
    df = spark.createDataFrame(
        [Row(i=i, bor=c[0]) for i, c in enumerate(BOR_CASES)]
    )
    r = E.fix_basis_of_record(F.col("bor"))
    out = (
        df.select(
            "i",
            r["value"].alias("v"),
            fold_flags(r["flag_removed"], r["flag_invalid"]).alias("flags"),
        )
        .orderBy("i")
        .collect()
    )
    for row, (_, ev, eflags) in zip(out, BOR_CASES):
        assert row.v == ev
        assert list(row.flags) == eflags


# --------------------------------------------------------------------------
# F14 — taxon rank normalization
# --------------------------------------------------------------------------

RANK_CASES = [
    ("species", "species", []),
    ("Sp.", "species", ["dwc_taxonrank_replaced"]),
    ("Division", "phylum", ["dwc_taxonrank_replaced"]),
    ("unknown", None, ["dwc_taxonrank_removed", "dwc_taxonrank_invalid"]),
    ("blahblah", None, ["dwc_taxonrank_removed", "dwc_taxonrank_invalid"]),
    ("subtribe", "subtribe", []),  # acceptable but unmapped
    (None, None, []),
]


def test_fix_taxon_rank(spark):
    df = spark.createDataFrame(
        [Row(i=i, tr=c[0]) for i, c in enumerate(RANK_CASES)]
    )
    r = E.fix_taxon_rank(F.col("tr"))
    out = (
        df.select(
            "i",
            r["value"].alias("v"),
            fold_flags(
                r["flag_replaced"], r["flag_removed"], r["flag_invalid"]
            ).alias("flags"),
        )
        .orderBy("i")
        .collect()
    )
    for row, (_, ev, eflags) in zip(out, RANK_CASES):
        assert row.v == ev, row
        assert list(row.flags) == eflags, row


def test_staged_bor_rank_flags_match_inline(spark):
    """bor_flags / taxon_rank_flags are the one definition of the F13/F14
    flag conditions: fix_* applies them to its own inline value, the etl
    to its staged value columns. Both must raise exactly the expected
    flags on every semantic arm: matched/unmatched/empty/NULL bor;
    mapped-different, mapped-identical, mapped-to-None,
    acceptable-unmapped, unknown, empty, NULL rank."""
    from idb_backend_spark.functions.grabbers import getfield

    bor_rm, bor_inv = "dwc_basisofrecord_removed", "dwc_basisofrecord_invalid"
    rank_rep, rank_rm, rank_inv = (
        "dwc_taxonrank_replaced", "dwc_taxonrank_removed",
        "dwc_taxonrank_invalid",
    )
    bor_cases = [(c[0], c[2]) for c in BOR_CASES] + [
        ("", [bor_rm, bor_inv]),     # filled() counts '' as present
        ("  ", [bor_rm, bor_inv]),
    ]
    rank_cases = [
        (c[0], [f for f in c[2] if f != rank_inv]) for c in RANK_CASES
    ] + [
        ("", [rank_rm]), ("  ", [rank_rm]),
        ("aberration", [rank_rm]),   # mapped to None -> removed+invalid
        ("class", []),               # identity mapping -> no replaced flag
        ("var.", [rank_rep]),        # mapped to 'variety' -> replaced
    ]
    n = max(len(bor_cases), len(rank_cases))
    rows = [
        Row(i=i, bor=bor_cases[i % len(bor_cases)][0],
            tr=rank_cases[i % len(rank_cases)][0])
        for i in range(n * 3)
    ]
    df = spark.createDataFrame(rows)

    def expected(i):
        b = bor_cases[i % len(bor_cases)][1]
        r = rank_cases[i % len(rank_cases)][1]
        return b + r + ([rank_inv] if rank_rm in r else [])

    bor = E.fix_basis_of_record(F.col("bor"))
    rank = E.fix_taxon_rank(F.col("tr"))
    inline = df.select(
        "i",
        fold_flags(
            bor["flag_removed"], bor["flag_invalid"],
            rank["flag_replaced"], rank["flag_removed"],
            rank["flag_invalid"],
        ).alias("flags"),
    )

    staged = df.select(
        "i",
        bor["value"].alias("bor_value"),
        rank["value"].alias("rank_value"),
        getfield(F.col("bor")).isNotNull().alias("bor_filled"),
        getfield(F.col("tr")).alias("rank_v"),
    )
    bor_f = E.bor_flags(F.col("bor_filled"), F.col("bor_value"))
    rank_f = E.taxon_rank_flags(F.col("rank_v"), F.col("rank_value"))
    derived = staged.select(
        "i",
        fold_flags(
            bor_f["flag_removed"], bor_f["flag_invalid"],
            rank_f["flag_replaced"], rank_f["flag_removed"],
            rank_f["flag_invalid"],
        ).alias("flags"),
    )

    want = [expected(i) for i in range(len(rows))]
    assert [list(r.flags) for r in inline.orderBy("i").collect()] == want
    assert [list(r.flags) for r in derived.orderBy("i").collect()] == want


# --------------------------------------------------------------------------
# F10/F11/F12 — license, media precedence, crossfill
# --------------------------------------------------------------------------


def test_license_lookup(spark):
    df = spark.createDataFrame(
        [
            Row(i=0, r="http://creativecommons.org/licenses/by/4.0/"),
            Row(i=1, r="https://creativecommons.org/publicdomain/zero/1.0"),
            Row(i=2, r="all rights reserved"),
        ]
    )
    out = df.select("i", E.license_lookup(F.col("r")).alias("lic")).orderBy("i").collect()
    assert [r.lic for r in out] == ["CC4 BY", "CC0", None]


def test_access_uri_precedence(spark):
    rows = [
        Row(i=0, au="a", bq="b", dct="c", dc="d", has_ac=True),
        Row(i=1, au=None, bq="b", dct="c", dc="d", has_ac=True),
        # ac: keys present → identifiers are NOT used as URL
        Row(i=2, au=None, bq=None, dct="c", dc="d", has_ac=True),
        Row(i=3, au=None, bq=None, dct="c", dc="d", has_ac=False),
        Row(i=4, au=None, bq=None, dct=None, dc="d", has_ac=False),
    ]
    df = spark.createDataFrame(rows)
    out = (
        df.select(
            "i",
            E.access_uri(
                F.col("au"), F.col("bq"), F.col("dct"), F.col("dc"), F.col("has_ac")
            ).alias("u"),
        )
        .orderBy("i")
        .collect()
    )
    assert [r.u for r in out] == ["a", "b", None, "c", "d"]


def test_access_uri_empty_string_or_semantics(spark):
    """r9 — the reference's `or` chains (conversions.py:711-723) treat
    '' as absent at non-final positions, but a chain that RESOLVES to
    '' still blocks the identifier fallback (`url is None` gate)."""
    rows = [
        # '' accessURI falls through to bestQuality
        Row(i=0, au="", bq="b", dct="c", dc="d", has_ac=True),
        # '' accessURI + NULL bestQuality -> '' or None == None -> idents
        Row(i=1, au="", bq=None, dct="c", dc="d", has_ac=False),
        # chain RESOLVES to '' (bq='') -> '' kept, idents blocked
        Row(i=2, au="", bq="", dct="c", dc="d", has_ac=False),
        # '' dcterms identifier falls through to dc identifier
        Row(i=3, au=None, bq=None, dct="", dc="d", has_ac=False),
    ]
    df = spark.createDataFrame(rows)
    out = (
        df.select(
            "i",
            E.access_uri(
                F.col("au"), F.col("bq"), F.col("dct"), F.col("dc"), F.col("has_ac")
            ).alias("u"),
        )
        .orderBy("i")
        .collect()
    )
    assert [r.u for r in out] == ["b", "c", "", "d"]


def test_first_nonempty_python_or_chain(spark):
    """first_nonempty == Python's `a or b or c` over strings: '' and
    NULL skip at non-final positions; the LAST alternative is verbatim
    ('' stays '', NULL stays NULL)."""
    rows = [
        Row(i=0, a="", b=None, c="x"),
        Row(i=1, a=None, b="", c="x"),
        Row(i=2, a="y", b="z", c="x"),
        Row(i=3, a="", b="", c=""),
        Row(i=4, a="", b="", c=None),
    ]
    df = spark.createDataFrame(rows)
    out = (
        df.select(
            "i",
            E.first_nonempty(F.col("a"), F.col("b"), F.col("c")).alias("v"),
        )
        .orderBy("i")
        .collect()
    )
    assert [r.v for r in out] == ["x", "x", "y", "", None]


def test_scientificname_crossfill(spark):
    rows = [
        Row(i=0, sn="Acer rubrum", g="acer", se="rubrum"),
        Row(i=1, sn=None, g="acer", se="rubrum"),
        Row(i=2, sn=None, g="acer", se=None),
        Row(i=3, sn=None, g=None, se=None),
    ]
    df = spark.createDataFrame(rows)
    r = E.scientificname_fill(F.col("sn"), F.col("g"), F.col("se"))
    out = (
        df.select(
            "i", r["value"].alias("v"), flag_column(r["flag_added"]).alias("fl")
        )
        .orderBy("i")
        .collect()
    )
    assert [x.v for x in out] == ["Acer rubrum", "acer rubrum", "acer", None]
    assert [x.fl for x in out] == [None, "scientificname_added", "scientificname_added", None]


def test_genus_species_parse(spark):
    rows = [
        Row(i=0, sn="Acer rubrum"),
        Row(i=1, sn="Acer rubrum var. trilobum"),
        Row(i=2, sn="ACER"),  # all-caps first token: not genus-shaped
        Row(i=3, sn="Quercus"),
    ]
    df = spark.createDataFrame(rows)
    r = E.genus_species_parse(F.col("sn"))
    out = (
        df.select("i", r["genus"].alias("g"), r["specificepithet"].alias("s"))
        .orderBy("i")
        .collect()
    )
    assert [(x.g, x.s) for x in out] == [
        ("acer", "rubrum"),
        ("acer", "rubrum"),
        (None, None),
        ("quercus", None),
    ]


# --------------------------------------------------------------------------
# A4 — uuid5 surrogate (byte-exact vs Python's uuid module)
# --------------------------------------------------------------------------


def test_uuid5_expr_matches_python(spark):
    names = ["gainesville, fl", "Acer rubrum", "ACER", "ümläut-ünïcode", ""]
    df = spark.createDataFrame([Row(i=i, n=n) for i, n in enumerate(names)])
    out = (
        df.select("i", E.uuid5_expr(F.col("n")).alias("u")).orderBy("i").collect()
    )
    for row, n in zip(out, names):
        assert row.u == str(uuid.uuid5(E.IDIGBIO_NAMESPACE, n)), n


# --------------------------------------------------------------------------
# F7 — reverse geocoder: grid prefilter + flip search
# --------------------------------------------------------------------------

REGIONS = {
    "US": [(-125.0, 24.0, -66.0, 49.0)],
    "BR": [(-74.0, -34.0, -34.0, 5.0)],
    "AU": [(113.0, -44.0, 154.0, -10.0)],
}


def test_rev_geocode_basic():
    g = GridGeocoder(REGIONS)
    assert g.lookup(-82.32, 29.65) == "US"
    assert g.lookup(-47.9, -15.8) == "BR"
    assert g.lookup(0.0, 0.0) is None


def test_rev_geocode_flip_correction():
    g = GridGeocoder(REGIONS)
    # negated longitude: point claims US but sits at +82 lon
    lon, lat, country, flags = rev_geocode_py(g, 82.32, 29.65, "US")
    assert (lon, lat, country) == (-82.32, 29.65, "US")
    assert "rev_geocode_lon_sign" in flags and "rev_geocode_corrected" in flags
    # lat/lon swapped
    lon, lat, country, flags = rev_geocode_py(g, 29.65, -82.32, "US")
    assert (lon, lat) == (-82.32, 29.65)
    assert "rev_geocode_flip" in flags
    # honest mismatch with no recoverable flip
    lon, lat, country, flags = rev_geocode_py(g, -47.9, -15.8, "US")
    assert country == "BR" and "rev_geocode_mismatch" in flags
    assert "rev_geocode_corrected" not in flags


def test_rev_geocode_udf(spark):
    g = GridGeocoder(REGIONS)
    df = spark.createDataFrame(
        [
            Row(i=0, lon=-82.32, lat=29.65, iso="US"),
            Row(i=1, lon=82.32, lat=29.65, iso="US"),
            Row(i=2, lon=None, lat=None, iso=None),
        ]
    )
    udf = rev_geocode_udf(g)
    out = (
        df.select("i", udf(F.col("lon"), F.col("lat"), F.col("iso")).alias("r"))
        .select("i", "r.lon", "r.lat", "r.country", "r.flags")
        .orderBy("i")
        .collect()
    )
    assert out[0].country == "US" and out[0].flags is None
    assert out[1].lon == -82.32 and "rev_geocode_corrected" in out[1].flags
    assert out[2].country is None


def test_mangle_and_datum_aliases():
    assert mangle_string("World Geodetic System 1984") == "WORLDGEODETICSYSTEM1984"
    assert DATUM_ALIASES[mangle_string("World Geodetic System 1984")] == "WGS84"


def test_grid_geocoder_polygon_rings():
    from idb_backend_spark.functions.geo import GridGeocoder, default_geocoder

    # a triangle ring (not a box): ray-cast containment, grid prefilter
    tri = {"XX": [[(0.0, 0.0), (10.0, 0.0), (5.0, 8.0)]]}
    g = GridGeocoder(tri)
    assert g.lookup(5.0, 2.0) == "XX"       # inside
    assert g.lookup(0.5, 7.0) is None       # in bbox cell, outside ring
    assert g.lookup(50.0, 50.0) is None     # no grid cell

    # packaged world outlines: interior points hit, borders stay safe
    world = default_geocoder()
    for code, (lo, la) in {
        "US": (-98.5, 39.8), "BR": (-51.9, -14.2), "AU": (134.0, -25.0),
        "IN": (78.9, 20.5), "CN": (104.0, 35.0), "EG": (30.0, 26.0),
        "JP": (138.0, 36.5), "NZ": (172.0, -43.5),
    }.items():
        assert world.lookup(lo, la) == code, code
    assert world.lookup(0.0, 0.0) is None  # gulf of guinea
    assert world.lookup(-140.0, -30.0) is None  # south pacific


def test_rev_geocode_flip_loop_on_world_outlines():
    from idb_backend_spark.functions.geo import default_geocoder, rev_geocode_py

    g = default_geocoder()
    # axis flip corrected to stated country (conversions.py:530-547);
    # the mismatch flag is set unconditionally when flips are tested with
    # a stated country (conversions.py:530) — failure case included
    lon, lat, country, flags = rev_geocode_py(g, 20.5, 78.9, "IN")
    assert (lon, lat, country) == (78.9, 20.5, "IN")
    assert flags == [
        "rev_geocode_failure", "rev_geocode_mismatch", "rev_geocode_flip",
        "rev_geocode_corrected",
    ]
    # mismatch that no flip fixes: flag only, coordinates unchanged
    lon, lat, country, flags = rev_geocode_py(g, -98.5, 39.8, "CA")
    assert (lon, lat, country) == (-98.5, 39.8, "US")
    assert flags == ["rev_geocode_mismatch"]


# --------------------------------------------------------------------------
# F6 native abridged-Molodensky datum shift (conversions.py:485-509;
# public parameters DMA TR 8350.2)
# --------------------------------------------------------------------------


def test_molodensky_physical_sanity():
    from idb_backend_spark.functions.geo import molodensky_shift_py

    # NAD27 Los Angeles area: the published CONUS NAD27->WGS84 correction
    # is a westward longitude shift of roughly 70-100 m and a small
    # latitude shift — assert direction and magnitude bands.
    lat2, lon2 = molodensky_shift_py(34.0, -118.25, "NAD27")
    dlon_m = (lon2 - -118.25) * 111_320 * math.cos(math.radians(34.0))
    dlat_m = (lat2 - 34.0) * 111_320
    assert -120 < dlon_m < -50        # westward ~83 m
    assert abs(dlat_m) < 15

    # WGS72 -> WGS84: +0.554" constant longitude term ~= 1.54e-4 deg,
    # latitude moves by only a few meters.
    lat2, lon2 = molodensky_shift_py(10.0, 20.0, "WGS72")
    assert abs((lon2 - 20.0) - 0.554 / 3600.0) < 2e-6
    assert abs(lat2 - 10.0) * 111_320 < 10


def test_molodensky_expr_matches_scalar_kernel(spark):
    from idb_backend_spark.functions.geo import (
        molodensky_shift_py,
        with_molodensky_shift,
    )

    rows = []
    for i, lat in enumerate([-75.0, -30.5, 0.25, 33.125, 68.0]):
        for j, lon in enumerate([-170.0, -118.25, -1.5, 77.0, 179.25]):
            rows.append(Row(i=i * 10 + j, lat=lat, lon=lon,
                            datum="NAD27" if (i + j) % 2 else "WGS 72"))
    df = spark.createDataFrame(rows)
    got = {
        row["i"]: (row["lat_wgs84"], row["lon_wgs84"])
        for row in with_molodensky_shift(
            df, F.col("lat"), F.col("lon"), F.col("datum")
        ).collect()
    }
    for row in rows:
        norm = "NAD27" if row.datum == "NAD27" else "WGS72"
        exp_lat, exp_lon = molodensky_shift_py(row.lat, row.lon, norm)
        assert abs(got[row.i][0] - exp_lat) < 1e-12, row
        assert abs(got[row.i][1] - exp_lon) < 1e-12, row


def test_molodensky_expr_flags_and_passthrough(spark):
    from idb_backend_spark.functions.geo import with_molodensky_shift

    df = spark.createDataFrame(
        [
            Row(i=0, lat=34.0, lon=-118.25, datum="WGS84"),
            Row(i=1, lat=34.0, lon=-118.25, datum="North American Datum 1983"),
            # the unknown-datum arm uses a datum with no NIMA mean shift
            Row(i=2, lat=34.0, lon=-118.25, datum="Ocotepeque 1935"),
            Row(i=3, lat=34.0, lon=-118.25, datum=None),
            Row(i=4, lat=90.0, lon=0.0, datum="NAD27"),      # pole passthrough
            Row(i=5, lat=None, lon=None, datum="NAD27"),
            Row(i=6, lat=-34.6, lon=-58.4, datum="Campo Inchauspe"),
        ]
    )
    out = {
        row["i"]: row
        for row in with_molodensky_shift(
            df, F.col("lat"), F.col("lon"), F.col("datum"),
            out_lat="la", out_lon="lo", out_flag="fl",
        ).collect()
    }
    assert (out[0].la, out[0].lo, out[0].fl) == (34.0, -118.25, None)
    assert (out[1].la, out[1].lo, out[1].fl) == (34.0, -118.25, None)
    assert (out[2].la, out[2].lo, out[2].fl) == (34.0, -118.25, "geopoint_datum_error")
    assert (out[3].la, out[3].fl) == (34.0, "geopoint_datum_missing")
    assert (out[4].la, out[4].lo, out[4].fl) == (90.0, 0.0, None)
    assert out[5].la is None and out[5].fl is None
    # a datum of the parameter table really shifts
    assert out[6].fl is None
    assert (out[6].la, out[6].lo) != (-34.6, -58.4)


def test_molodensky_new_datums_shift_plausibly():
    """Each DMA TR 8350.2 datum shift moves a mid-latitude point by a
    physically plausible amount (10 m .. 1.5 km) and flags nothing."""
    from idb_backend_spark.functions.geo import (
        MOLODENSKY_PARAMS,
        molodensky_shift_py,
    )

    probe = {
        "ED50": (48.0, 11.0), "TOKYO": (35.6, 139.7), "AGD66": (-33.8, 151.2),
        "AGD84": (-31.9, 115.8), "SAD69": (-23.5, -46.6),
        "OSGB36": (51.5, -0.1), "IRE65": (53.3, -6.2),
        "NZGD49": (-41.3, 174.8), "PULKOVO42": (55.7, 37.6),
        "CAPE": (-33.9, 18.4), "ARC1950": (-17.8, 31.0),
        "CARTHAGE": (36.8, 10.2), "POTSDAM": (52.5, 13.4),
        "HERMANNSKOGEL": (48.2, 16.4), "GGRS87": (38.0, 23.7),
    }
    assert set(probe) <= set(MOLODENSKY_PARAMS)
    for datum, (la, lo) in probe.items():
        la2, lo2 = molodensky_shift_py(la, lo, datum)
        dist_m = (
            ((la2 - la) * 111_320) ** 2
            + ((lo2 - lo) * 111_320 * math.cos(math.radians(la))) ** 2
        ) ** 0.5
        assert 10.0 < dist_m < 1500.0, (datum, dist_m)


def test_staged_shift_matches_scalar_kernel(spark):
    """with_molodensky_shift computes the scalar kernel's numbers for
    every datum in the table, and passes coordinates through unchanged
    at a pole and for an unknown or missing datum."""
    from idb_backend_spark.functions.geo import (
        MOLODENSKY_PARAMS,
        molodensky_shift_py,
        with_molodensky_shift,
    )

    rows = [
        Row(i=i, lat=10.0 + i, lon=-120.0 + 7 * i, datum=d)
        for i, d in enumerate(sorted(MOLODENSKY_PARAMS))
    ]
    n = len(rows)
    passthrough = [
        Row(i=n, lat=-90.0, lon=45.0, datum="NAD27"),
        Row(i=n + 1, lat=12.5, lon=-70.25, datum="Ocotepeque 1935"),
        Row(i=n + 2, lat=12.5, lon=-70.25, datum=None),
    ]
    df = spark.createDataFrame(rows + passthrough)
    staged = {
        r["i"]: r
        for r in with_molodensky_shift(
            df, F.col("lat"), F.col("lon"), F.col("datum")
        ).collect()
    }
    for row in rows:
        exp_lat, exp_lon = molodensky_shift_py(row.lat, row.lon, row.datum)
        assert abs(staged[row.i].lat_wgs84 - exp_lat) < 1e-9, row
        assert abs(staged[row.i].lon_wgs84 - exp_lon) < 1e-9, row
    for row in passthrough:
        got = staged[row.i]
        assert (got.lat_wgs84, got.lon_wgs84) == (row.lat, row.lon), row


def test_pick_license_unknown_version_does_not_block_later_fragment():
    """Reference parity (rights_strings.py pick_license): an unknown
    version ('by-nc 2.0') raises before the reference advances its
    order, so a later 'by-nc 4.0' fragment must still be picked."""
    from idb_backend_spark.functions.enrichment import pick_license

    assert (
        pick_license("cc0 and cc by-nc 2.0 and cc by-nc 4.0")
        == "CC4 BY-NC"
    )
    # 1.0 maps to the empty version prefix — the reference's ' BY' shape
    assert pick_license("CC BY 1.0") == " BY"


def test_quality_score_null_and_range(spark):
    from pyspark.sql import functions as F

    from idb_backend_spark.functions.text import (
        normalize_text,
        quality_score_from_norm,
    )

    df = spark.createDataFrame(
        [(None,), ("!!!???;;;###@@@...",), ("the quick brown fox and the dog",)],
        "text string",
    ).select(
        quality_score_from_norm("text", normalize_text("text")).alias("q")
    )
    rows = [r["q"] for r in df.collect()]
    assert rows[0] is None          # null text -> null, not 0.5
    assert rows[1] == 0.0           # punctuation soup floors at 0
    assert 0.0 <= rows[2] <= 1.0


def test_datum_missing_flag_agrees_between_native_and_udf(spark):
    """A punctuation-only datum mangles to '' (no datum information) and
    flags 'geopoint_datum_missing' like a NULL datum — not
    'geopoint_datum_error'. The missing verdict is judged on the mangled
    form, as the reference's mangleString feeds it."""
    from idb_backend_spark.functions.geo import with_molodensky_shift

    df = spark.createDataFrame(
        [(40.0, -75.0, "???"), (40.0, -75.0, None), (40.0, -75.0, "NAD27")],
        "lat double, lon double, datum string",
    )
    native = with_molodensky_shift(
        df, F.col("lat"), F.col("lon"), F.col("datum")
    ).select("datum", "datum_flag").collect()
    nmap = {r["datum"]: r["datum_flag"] for r in native}
    assert nmap["???"] == "geopoint_datum_missing"
    assert nmap[None] == "geopoint_datum_missing"
    assert nmap["NAD27"] is None
