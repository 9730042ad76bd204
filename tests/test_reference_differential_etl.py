"""Differential check of the enrichment kernels against the reference's
conversions library EXECUTED directly.

``idb/helpers/conversions.py`` loads once its geo/IO dependencies
(pyproj/shapely/fiona/magic/atomicfile) are stubbed — none of the
functions compared here touch them. Each family generates randomized
inputs (seeded), runs the reference function as the oracle, and runs
the engine's Column kernel through Spark on the same inputs.

Locale note: the reference calls ``locale.setlocale(LC_ALL, '')`` and
coerces numbers with locale.atoi/atof. This container has only the C
locale DATA, under which grouped numbers ('2,050') RAISE and coerce to
None — production ran under en_US.UTF-8 where they parse. r14 CLOSES
that boundary: ``test_number_grabbers_grouping_vs_reference_en_us``
executes the REAL locale.atof/atoi with en_US numeric data injected
through CPython's ``locale._override_localeconv`` hook, driving the
full comma/grouping-edge pool; the C-locale differential above stays
as the no-grouping control arm.
"""

from __future__ import annotations

import datetime
import random
import sys
import types
from unittest import mock

import pytest
from pyspark.sql import functions as F

from idb_backend_spark.functions import enrichment as E
from idb_backend_spark.functions import grabbers as G
from idb_backend_spark.functions.flags import flag_column


@pytest.fixture(scope="module")
def ref(requires_reference):
    import pandas  # noqa: F401 — pandas must initialize against the
    # REAL pytz; a fake seeded first poisons its import in subset runs
    fake_pytz = types.ModuleType("pytz")
    fake_pytz.utc = datetime.timezone.utc
    sys.modules.setdefault("pytz", fake_pytz)
    for name in (
        "pyproj",
        "shapely",
        "shapely.wkt",
        "shapely.geometry",
        "shapely.prepared",
        "fiona",
        "atomicfile",
        "magic",
    ):
        sys.modules.setdefault(name, mock.MagicMock())
    sys.path.insert(0, "/root/reference")
    from idb.helpers import conversions as C

    return C


_NUMERIC_STRINGS = [
    "12", " -3 ", "+40", "12.7", ".5", "12.", "-0.0", "00123",
    "about 7 m", "x", "", "12 34", "1e5", "3.222.111", "7,5",
    "elev 450m", "-", "+", "NaN", "99999999", "0", "  42  ",
]


def test_number_grabbers_vs_reference(ref, spark):
    import locale

    df = spark.createDataFrame([(s,) for s in _NUMERIC_STRINGS], "v string")
    got = df.select(
        "v",
        G.grab_first_number("v").alias("f"),
        G.int_grabber("v").alias("i"),
    ).collect()
    by_v = {r["v"]: r for r in got}
    for s in _NUMERIC_STRINGS:
        tok = ref.grabFirstNumber(s)
        if tok is None:
            exp_f, exp_i = None, None
        else:
            try:
                exp_f = locale.atof(tok)
            except ValueError:
                exp_f = None
            try:
                exp_i = locale.atoi(tok)
            except ValueError:
                exp_i = None
        r = by_v[s]
        assert r["f"] == exp_f, (s, tok, r["f"], exp_f)
        assert r["i"] == exp_i, (s, tok, r["i"], exp_i)


def test_decimal_exponent_vs_reference(ref, spark):
    # r12 additions: padded (Decimal strips the FULL whitespace class)
    # and unicode-digit mantissas (Decimal accepts any Nd digit)
    vals = [
        "12.3450", "1.2e-3", "1E2", "-0.5", "7", "7.", ".25", "abc",
        "", "12,5", "+3.14159", "0.00", "2e0", "-1.5E+2", "nan", "Infinity",
        " 3.45\t", "\u00a03.4", "٣.٤٥", "۳.۴4", "\t.5",
        "1e٣", "1_0.5_5", "_1", "1__0", "12.5f", "1d",
    ]
    df = spark.createDataFrame([(s,) for s in vals], "v string")
    got = {r["v"]: r["o"] for r in df.select(
        "v", G.decimal_exponent("v").alias("o")).collect()}
    for s in vals:
        exp = ref.getExponent(s)
        if exp == "":
            # the r10 differential finding: NaN/Infinity parse in
            # Decimal, the tuple exponent is a STRING, and -1 * 'n' is
            # python string repetition -> '' (not an exception). The py2
            # consumer's '' <= 2 is False — engine models that as NULL
            assert got[s] is None, (s, got[s])
        else:
            assert got[s] == exp, (s, got[s], exp)


def test_grab_first_uuid_vs_reference(ref, spark):
    vals = [
        "http://x/AB12CD34-0000-4000-8000-00000000000F/media",
        "urn:uuid:ab12cd34-0000-4000-8000-00000000000f",
        "no uuid here",
        "prefix 12345678-1234-1234-1234-1234567890ab suffix",
        "",
    ]
    df = spark.createDataFrame([(s,) for s in vals], "v string")
    got = {r["v"]: r["o"] for r in df.select(
        "v", G.grab_first_uuid("v").alias("o")).collect()}
    for s in vals:
        assert got[s] == ref.grabFirstUUID(s), s


def test_get_license_vs_reference(ref, spark):
    """getLicense probes RAW values with NO fold and only for
    mediarecords (its records field list is EMPTY — records never get a
    license from this path); majority over the five fields."""
    from idb_backend_spark.data.licenses import LICENSE_TRANS

    rng = random.Random(77)
    keys = sorted(LICENSE_TRANS)
    fields = [
        "dcterms:rights", "dc:rights", "xmpRights:UsageTerms",
        "xmpRights:WebStatement", "dcterms:license",
    ]
    # records: always {}
    assert ref.getLicense("records", {"dcterms:rights": keys[0]}) == {}

    for _ in range(25):
        d = {}
        for f in fields:
            roll = rng.random()
            if roll < 0.5:
                d[f] = rng.choice(keys)
            elif roll < 0.7:
                d[f] = "all rights reserved etc"
        expect = ref.getLicense("mediarecords", d)
        # engine: exact-value lookup per field + majority (ties are the
        # reference's set-order — regenerate until untied)
        tags = [
            LICENSE_TRANS[d[f]]
            for f in fields
            if f in d and d[f] in LICENSE_TRANS
        ]
        if not tags:
            assert expect == {}
            continue
        counts = {t: tags.count(t) for t in set(tags)}
        top = sorted(counts.values(), reverse=True)
        if len(top) > 1 and top[0] == top[1]:
            continue  # tied: the reference's max(set(...)) order is py-hash
        eng_tag = max(counts, key=counts.get)
        assert expect == E.license_attributes(eng_tag), (d, eng_tag, expect)


def test_fix_bor_vs_reference(ref, spark):
    vals = [
        "preservedspecimen", "a preserved thing", "fossil", "livingspecimen",
        "material sample", "weird specimen", "machine observation",
        "machineobservation", "observation", "human observation",
        "occurrence", "exsiccati", "machine reading of a preserved specimen",
        "",  # filled() counts '' as present -> removed+invalid (r10)
        None,
    ]
    df = spark.createDataFrame([(s,) for s in vals], "v string")
    out = E.fix_basis_of_record(F.col("v"))
    got = {
        r["v"]: r
        for r in df.select(
            "v",
            out["value"].alias("value"),
            flag_column(out["flag_removed"]).alias("rm"),
            flag_column(out["flag_invalid"]).alias("inv"),
        ).collect()
    }
    for s in vals:
        r = {"basisofrecord": s} if s is not None else {}
        ref.fixBOR("records", r)
        g = got[s]
        assert g["value"] == r.get("basisofrecord"), (s, g["value"], r)
        assert bool(g["rm"]) == bool(r.get("flag_dwc_basisofrecord_removed")), s
        assert bool(g["inv"]) == bool(r.get("flag_dwc_basisofrecord_invalid")), s


def test_access_uri_and_media_type_vs_reference(ref, spark):
    rng = random.Random(99)
    cases = []
    for i in range(40):
        d = {}
        if rng.random() < 0.6:
            d["ac:accessURI"] = rng.choice(["http://a/" + str(i), "", " padded "])
        if rng.random() < 0.5:
            d["ac:bestQualityAccessURI"] = rng.choice(["http://b/" + str(i), ""])
        if rng.random() < 0.6:
            d["dcterms:identifier"] = rng.choice(["http://dct/" + str(i), ""])
        if rng.random() < 0.6:
            d["dc:identifier"] = "http://dc/" + str(i)
        # the format or-chain (dcterms:format -> dc:format ->
        # ac:bestQualityFormat): the reference's '' arms fall THROUGH
        # to the next alternative, so media_type must be fed the
        # first_nonempty composition, never a bare field
        for f in ("dcterms:format", "dc:format", "ac:bestQualityFormat"):
            if rng.random() < 0.4:
                d[f] = rng.choice(
                    ["image/jpeg", " Image/JPEG ", "audio/mpeg3",
                     "image/png", "", "video/mp4"]
                )
        cases.append(d)
    rows = [
        (
            i,
            d.get("ac:accessURI"),
            d.get("ac:bestQualityAccessURI"),
            d.get("dcterms:identifier"),
            d.get("dc:identifier"),
            any(k.startswith("ac:") for k in d),
            d.get("dcterms:format"),
            d.get("dc:format"),
            d.get("ac:bestQualityFormat"),
        )
        for i, d in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows, "i int, au string, bq string, dct string, dc string, "
        "has_ac boolean, f1 string, f2 string, f3 string"
    )
    fmt, bucket = E.media_type(
        E.first_nonempty(F.col("f1"), F.col("f2"), F.col("f3"))
    )
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            E.access_uri(
                F.col("au"), F.col("bq"), F.col("dct"), F.col("dc"),
                F.col("has_ac"),
            ).alias("uri"),
            fmt.alias("fmt"),
            bucket.alias("bucket"),
        ).collect()
    }
    for i, d in enumerate(cases):
        exp_uri = ref.get_accessuri("mediarecords", d)["accessuri"]
        exp_mt = ref.get_media_type("mediarecords", d)
        g = got[i]
        assert g["uri"] == exp_uri, (i, d, g["uri"], exp_uri)
        assert g["fmt"] == exp_mt["format"], (i, d, g["fmt"], exp_mt)
        assert g["bucket"] == exp_mt["mediatype"], (i, d, g["bucket"], exp_mt)


def test_verbatim_projection_vs_reference(ref, spark):
    """getfield/verbatimGrabber over randomized raw maps: random key
    CASE (the lookup is case-insensitive), padded/mixed-case values
    (lowercase+strip fold), list values for list-typed rows."""
    from idb_backend_spark.data.typed_schema import raw_fields

    rng = random.Random(31337)
    rf = raw_fields("records")
    # choose a manageable slice of string-typed fields
    str_fields = [x for x in rf if x[2] in ("text", "longtext")][:25]
    cases = []
    for i in range(20):
        d = {}
        for name, rawfield, reftype in rng.sample(str_fields, rng.randint(3, 10)):
            key = rawfield if rng.random() < 0.5 else rawfield.upper()
            # r12: tab/CR/NBSP padding added — getfield is .lower().strip()
            # (the FULL isspace class); space-only padding masked F.trim
            d[key] = rng.choice(
                ["  Acer Rubrum ", "X", "", " mixed CASE ",
                 "\tTabbed\t", "CR\r", "\u00a0nb\u00a0",
            # r13 encoding-edge class: NFC/NFD twins (distinct bytes,
            # no normalization in the chain), fullwidth digits/letters
            # (str.lower maps Ａ->ａ), astral chars through the fold
            "Café", "Café", "ＩＤ１２３", "😀x"]
            )
        cases.append(d)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(cases)],
        "id int, data map<string,string>",
    )
    from idb_backend_spark.data.typed_schema import verbatim_projection

    got = {
        r["id"]: r.asDict()
        for r in verbatim_projection(df, "records", keep=["id"]).collect()
    }
    for i, d in enumerate(cases):
        expect = ref.verbatimGrabber("records", d)
        g = got[i]
        for name, rawfield, reftype in str_fields:
            assert g.get(name) == expect.get(name), (
                i, name, rawfield, g.get(name), expect.get(name), d,
            )


_DATE_STRINGS = [
    "1999-03-04", "March 4 99", "04/03/1999", "1999", "JAN 3",
    "2026-08-16T12:30:05Z", "2020-01-01T00:00+05:00", "noon",
    "99-1-1", "3/4/5", "2020-02-30", "  1950-06-01  ",
    "1999-03-04 12:30:05.123456", "12:30", "circa 1900", "19990304",
    "not a date", "",
    # r13 encoding-edge class: unicode Nd digits (dateutil's \d is
    # unicode-aware), fullwidth digits, NBSP/tab padding — both sides
    # share the installed dateutil, so this pins the SURROUNDING folds
    "١٩٩٩-٠٣-٠٤", "２０２０-01-01", " 1950-06-01 ", "1999-03-04\t",
]


def test_date_parse_vs_reference(ref, spark):
    """dateGrabber's eventDate parse (conversions.py:585-598) vs the
    engine's parse_date_py — the SAME installed dateutil on both sides,
    so this compares the surrounding semantics: the uppercase fold, the
    0001-01-01 default, the naive->UTC coercion (the engine normalizes
    aware results to the same instant in naive UTC)."""
    import datetime as _dt

    from idb_backend_spark.functions.dates import parse_date_py

    for s in _DATE_STRINGS:
        got = parse_date_py(s)
        expect = ref.dateGrabber("records", {"dwc:eventDate": s})[
            "datecollected"
        ]
        if expect is not None:
            expect = expect.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        assert got == expect, (s, got, expect)


def test_date_fallback_vs_reference(ref, spark):
    """The year/month/day/startDayOfYear assembly (conversions.py:
    604-624) on the full combination grid. One arm diverges BY
    DESIGN and is asserted as such: the reference's sdoy branch calls
    ``datetime.datetime(year, 1, 1)`` with the STRING year getfield
    returns, which raises into the bare except — the branch is dead on
    real data and 'datecollected' stays None; the engine's documented
    modeling choice (SURVEY F8, r9) computes the date the code
    evidently intended."""
    import itertools

    rows = []
    for y, m, d, sd in itertools.product(
        ["1999", "1850", "bad", None],
        ["5", "13", None],
        ["7", None],
        ["33", None],
    ):
        rows.append((len(rows), y, m, d, sd))
    df = spark.createDataFrame(
        rows, "i int, y string, m string, d string, sd string"
    )
    got = {
        r["i"]: r["dc"]
        for r in df.select(
            "i",
            E.date_fallback(
                F.lit(None).cast("timestamp"),
                F.col("y"), F.col("m"), F.col("d"), F.col("sd"),
            ).alias("dc"),
        ).collect()
    }
    import datetime as _dt

    for i, y, m, d, sd in rows:
        raw = {}
        if y is not None:
            raw["dwc:year"] = y
        if m is not None:
            raw["dwc:month"] = m
        if d is not None:
            raw["dwc:day"] = d
        if sd is not None:
            raw["dwc:startDayOfYear"] = sd
        expect = ref.dateGrabber("records", raw)["datecollected"]
        g = got[i]
        g_date = g.date() if isinstance(g, _dt.datetime) else g
        # the sdoy branch fires whenever year+month are PRESENT and day
        # absent — the month's VALUE is never validated there ('13'
        # rides along); the reference then dies on the string year
        sdoy_arm = (
            y is not None and m is not None and d is None and sd is not None
        )
        if sdoy_arm:
            # documented divergence: reference dead arm vs engine intent
            assert expect is None, (i, raw, expect)
            if y == "bad":
                assert g_date is None, (i, raw, g_date)
            else:
                assert g_date == (
                    _dt.date(int(y), 1, 1) + _dt.timedelta(int(sd) - 1)
                ), (i, raw, g_date)
        else:
            exp_date = (
                expect.date() if isinstance(expect, _dt.datetime) else expect
            )
            assert g_date == exp_date, (i, raw, g_date, exp_date)


def test_etag_vs_reference(spark, requires_reference):
    """calcEtag/objectHasher (idb/helpers/etags.py — imports clean, no
    stubs needed) vs the engine's canonical hashers over randomized
    nested structures: byte-exact identity is the versioning/dedup
    contract (SURVEY §7.7 #1)."""
    sys.path.insert(0, "/root/reference")
    from idb.helpers import etags as ref_etags

    from idb_backend_spark.functions.etags import calc_etag, object_hash

    rng = random.Random(4242)

    # r13 encoding-edge pool: NFC/NFD twins (é composed vs decomposed —
    # DIFFERENT byte sequences, must hash differently and identically
    # so on both engines), astral-plane chars (4-byte UTF-8 through the
    # canonical JSON), fullwidth digits/letters
    ENC = [
        "café", "café", "\U0001f600snow", "\U0001d538math",
        "１２３", "ＡBC",
    ]

    def rand_val(depth=0):
        roll = rng.random()
        if roll < 0.3:
            return rng.choice(
                ["Acer", "", "ünïcødé ☃", "a\"b\\c", "x" * 50] + ENC
            )
        if roll < 0.45:
            return rng.randint(-10**6, 10**6)
        if roll < 0.55:
            return round(rng.uniform(-1000, 1000), 6)
        if roll < 0.6:
            return rng.choice([True, False, None])
        if depth >= 2:
            return "leaf"
        if roll < 0.8:
            return [rand_val(depth + 1) for _ in range(rng.randint(0, 4))]
        return {f"k{rng.randint(0, 9)}": rand_val(depth + 1)
                for _ in range(rng.randint(0, 4))}

    for _ in range(50):
        flat = {f"f{rng.randint(0, 20)}": rng.choice(
            ["Acer", "ünïcødé", str(rng.random()), ""] + ENC
        ) for _ in range(rng.randint(1, 8))}
        assert calc_etag(flat) == ref_etags.calcEtag(flat), flat
        nested = {f"k{j}": rand_val() for j in range(rng.randint(1, 5))}
        for st in ("sha1", "sha256", "md5"):
            assert object_hash(nested, st) == ref_etags.objectHasher(
                st, nested
            ), (st, nested)
            assert object_hash(nested, st, sort_arrays=True) == (
                ref_etags.objectHasher(st, nested, sort_arrays=True)
            ), (st, nested)


def test_canonical_names_vs_reference(spark, requires_reference):
    """get_canonical_name (idb/helpers/fieldnames.py:594-631) over the
    translate_dict's OWN key domain — the reference lookup is an
    exact-match dict probe (curies and verbatim header variants; a
    full URI or a case-variant passes through as Unknown), and the
    engine must agree there. The engine's extra arms (URI->CURIE fold,
    namespace-strip and lowercase retries) are a DOCUMENTED extension
    (sources/fieldnames.py get_canonical_name docstring) asserted
    separately: where the reference degrades to pass-through, the
    engine may still resolve — but must never resolve to something the
    registry doesn't hold."""
    sys.path.insert(0, "/root/reference")
    from idb.helpers import fieldnames as ref_fn

    from idb_backend_spark.sources.fieldnames import get_canonical_name

    rng = random.Random(5151)
    keys = sorted(ref_fn.translate_dict)
    sample = rng.sample(keys, min(300, len(keys)))
    for k in sample:
        expect = tuple(ref_fn.get_canonical_name(k))
        got = get_canonical_name(k)
        assert got == expect, (k, got, expect)
    # unknown plain headers: both degrade to (field, Unknown)
    for k in ["plainheader", "zzz:nothing", "field with spaces"]:
        assert get_canonical_name(k) == tuple(ref_fn.get_canonical_name(k)), k
    # the engine extensions: reference passes a term URI through as
    # Unknown; the engine folds it to the registered CURIE
    uri = "http://rs.tdwg.org/dwc/terms/basisOfRecord"
    assert tuple(ref_fn.get_canonical_name(uri)) == (uri, "Unknown")
    eng = get_canonical_name(uri)
    assert eng[0] == "dwc:basisOfRecord" and eng[1] != "Unknown"
    known = {v[0] for v in ref_fn.translate_dict.values()}
    # every engine resolution must land inside the reference registry
    for k in sample[:50]:
        got = get_canonical_name(k.upper())
        assert got[0] in known or got == (
            "".join(ch for ch in k.upper() if ch.isprintable()),
            "Unknown",
        ) or got[0] == k.upper() or got[0] is None, (k, got)


def test_set_flags_and_dqs_vs_reference(ref, spark):
    """setFlags (conversions.py:235-261) over the geopoint/date flag
    table, and the dqs score (:264-271) — compared on planted typed
    rows through the engine's native flag/score expressions."""
    import datetime as _dt

    from idb_backend_spark.functions import flags as FL

    cases = [
        ((0.0, 10.0), None),
        ((10.0, 0.0), None),
        ((12.5, -12.5), None),
        ((12.5, 12.5), None),
        ((45.0, -100.0), None),
        (None, None),
        ((45.0, -100.0), _dt.datetime(1400, 1, 1, tzinfo=_dt.timezone.utc)),
        ((45.0, -100.0), _dt.datetime(1999, 6, 1, tzinfo=_dt.timezone.utc)),
        ((0.0, 0.0), _dt.datetime(2990, 1, 1, tzinfo=_dt.timezone.utc)),
    ]
    rows = [
        (
            i,
            {"lat": gp[0], "lon": gp[1]} if gp else None,
            dc.replace(tzinfo=None) if dc else None,
        )
        for i, (gp, dc) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows, "i int, geopoint struct<lat:double,lon:double>, dc timestamp"
    )
    lat, lon = F.col("geopoint.lat"), F.col("geopoint.lon")
    coord_flags = FL.standard_coord_flags(lat, lon)
    date_flag = FL.flag_when(
        "datecollected_bounds",
        F.col("dc").isNotNull()
        & (
            (F.col("dc") < F.lit("1500-01-02").cast("timestamp"))
            | (F.col("dc") > F.current_timestamp())
        ),
    )
    got = {
        r["i"]: r["flags"]
        for r in df.select(
            "i", FL.fold_flags(*coord_flags, date_flag).alias("flags")
        ).collect()
    }
    for i, (gp, dc) in enumerate(cases):
        d = {}
        if gp is not None:
            d["geopoint"] = gp
        if dc is not None:
            d["datecollected"] = dc
        expect = ref.setFlags(d)
        assert sorted(got[i]) == sorted(expect), (i, d, got[i], expect)


def test_dqs_score_vs_reference(ref, spark):
    """score (conversions.py:264-271) vs the engine's schema-driven dqs
    on randomized typed dicts: presence-weight sum minus flag count over
    the type's maxscore, UNCLAMPED (negative scores survive)."""
    from idb_backend_spark.data.typed_schema import scored_weights
    from idb_backend_spark.functions import flags as FL

    rng = random.Random(8080)
    weights = scored_weights("records")
    names = sorted(weights)
    cases = []
    for i in range(25):
        present = rng.sample(names, rng.randint(0, 20))
        nflags = rng.randint(0, 12)
        cases.append((i, present, nflags))
    rows = [
        tuple([i] + ["x" if n in present else None for n in names]
              + [[f"flag{j}" for j in range(nflags)]])
        for i, present, nflags in cases
    ]
    schema = ", ".join(
        ["i int"] + [f"`{n}` string" for n in names] + ["flags array<string>"]
    )
    df = spark.createDataFrame(rows, schema)
    got = {
        r["i"]: r["dqs"]
        for r in df.select(
            "i",
            FL.dqs_score_for("records", F.col("flags"), columns=names).alias(
                "dqs"
            ),
        ).collect()
    }
    for i, present, nflags in cases:
        d = {n: "x" for n in present}
        d["flags"] = [f"flag{j}" for j in range(nflags)]
        expect = ref.score("records", d)
        assert abs(got[i] - expect) < 1e-12, (i, present, nflags, got[i], expect)


def test_relations_grabber_vs_reference(ref, spark):
    """relationsGrabber (conversions.py:632-680) on randomized
    links/siblings/parent combinations for records AND mediarecords:
    the links-elif blocking the siblings fallback, uuid extraction
    under links vs VERBATIM under siblings, empty-list survival (the
    P14 presence pin), and the idigbio:parent override through the
    de-pluralized PARENT_MAP key."""
    from idb_backend_spark.functions import finalize as FIN

    rng = random.Random(2718)
    U1 = "AB12CD34-0000-4000-8000-00000000000F"
    U2 = "ab12cd34-1111-4111-8111-00000000000f"
    url_pool = [
        f"http://api/view/{U1}/x", f"urn:uuid:{U2}", "http://no-uuid/here",
        "verbatim-id-1",
    ]

    def rand_map():
        m = {}
        for key in ("recordset", "mediarecord", "record", "publisher"):
            roll = rng.random()
            if roll < 0.4:
                continue
            if roll < 0.5:
                m[key] = []
            else:
                m[key] = rng.sample(url_pool, rng.randint(1, 3))
        return m

    cases = []
    for i in range(40):
        d = {}
        if rng.random() < 0.6:
            d["idigbio:links"] = rand_map()
        if rng.random() < 0.6:
            d["idigbio:siblings"] = rand_map()
        if rng.random() < 0.4:
            d["idigbio:parent"] = f"parent-{i}"
        cases.append(d)

    for t, rel_cols in (
        ("records", ["recordset", "mediarecords"]),
        ("mediarecords", ["recordset", "records"]),
    ):
        rows = [
            (
                i,
                d.get("idigbio:links"),
                d.get("idigbio:siblings"),
                d.get("idigbio:parent"),
            )
            for i, d in enumerate(cases)
        ]
        df = spark.createDataFrame(
            rows,
            "i int, links map<string,array<string>>, "
            "sibs map<string,array<string>>, parent string",
        )
        rel = FIN.relations_grabber(
            t, F.col("links"), F.col("sibs"), F.col("parent")
        )
        sel = [F.col("i")] + [rel[c].alias(c) for c in rel_cols]
        if t == "mediarecords":
            pf = FIN.media_presence_flags(F.lit(None), rel["records"])
            sel.append(pf["hasSpecimen"].alias("hasSpecimen"))
        else:
            pf = FIN.media_presence_flags(rel["mediarecords"], F.lit(None))
            sel += [pf["hasImage"].alias("hasImage"),
                    pf["hasMedia"].alias("hasMedia")]
        got = {r["i"]: r.asDict() for r in df.select(*sel).collect()}
        for i, d in enumerate(cases):
            g = got[i]
            try:
                expect = ref.relationsGrabber(t, dict(d))
            except IndexError:
                # documented divergence (finalize.py relations_grabber):
                # an empty array under a TEXT relation key raises in the
                # reference (conversions.py:654/:664) and would kill the
                # run; the engine yields NULL for that column
                branch = d.get("idigbio:links", d.get("idigbio:siblings"))
                assert branch.get("recordset") == [], (t, i, d)
                # the engine completes the row: NULL from the empty
                # array, then the idigbio:parent override still lands
                assert g["recordset"] == d.get("idigbio:parent"), (t, i, d, g)
                continue
            for c in rel_cols:
                assert g[c] == expect.get(c), (t, i, c, d, g[c], expect)
            if t == "mediarecords":
                assert g["hasSpecimen"] == expect.get("hasSpecimen", False), (
                    t, i, d, g, expect,
                )
            else:
                assert g["hasImage"] == expect.get("hasImage", False), (
                    t, i, d, g, expect,
                )
                assert g["hasMedia"] == expect.get("hasMedia", False), (
                    t, i, d, g, expect,
                )


@pytest.fixture(scope="module")
def ref_db_check(requires_reference):
    """db_check loads under an auto-stub import hook (every IO/driver
    dependency fabricated; the functions differentialed here — mungeid,
    idFromRR, identifyRecord, strip_nuls — touch none of them)."""
    import importlib.abc
    import importlib.util

    roots = {
        "gevent", "psycopg2", "boto3", "botocore", "requests",
        "elasticsearch", "celery", "redis", "lxml", "pyproj", "shapely",
        "fiona", "atomicfile", "magic",
    }

    class AutoStub(importlib.abc.MetaPathFinder, importlib.abc.Loader):
        def find_spec(self, name, path=None, target=None):
            if name.split(".")[0] in roots and name not in sys.modules:
                return importlib.util.spec_from_loader(
                    name, self, is_package=True
                )
            return None

        def create_module(self, spec):
            m = mock.MagicMock()
            m.__name__ = spec.name
            m.__path__ = []
            m.__spec__ = spec
            return m

        def exec_module(self, module):
            pass

    sys.meta_path.insert(0, AutoStub())
    import pandas  # noqa: F401 — pandas must initialize against the
    # REAL pytz; a fake seeded first poisons its import in subset runs
    fake_pytz = types.ModuleType("pytz")
    fake_pytz.utc = datetime.timezone.utc
    sys.modules.setdefault("pytz", fake_pytz)
    sys.path.insert(0, "/root/reference")
    import botocore.exceptions
    import psycopg2

    psycopg2.DatabaseError = type("DatabaseError", (Exception,), {})
    botocore.exceptions.ClientError = type("ClientError", (Exception,), {})
    stor = mock.MagicMock()
    stor.__name__ = "idb.helpers.storage"
    sys.modules.setdefault("idb.helpers.storage", stor)
    from idigbio_ingestion import db_check as DB

    return DB


def test_identify_record_vs_reference(ref_db_check, spark):
    """identifyRecord (db_check.py:64-87 tables + :152-168) over
    randomized dwc:Occurrence / dwc:Multimedia dicts (the table is
    keyed by ROWTYPE, db_check.py:64 — identifyRecord with a storage
    type name returns nothing): table-order candidate
    COLLECTION, BOM-strip + trim + final lower, the first-iteration-only
    idFromRR, rsid namespacing, and the UConn skip."""
    from idb_backend_spark.functions import finalize as FIN

    DB = ref_db_check
    rng = random.Random(60606)
    # r13: rsid itself mixed-case — identifyRecord's cid.lower() folds
    # the COMPOSED candidate including the rsid prefix (advice finding;
    # the engine previously lowered only the munged value)
    rsid = "RS-MiXed-99"
    # r12: tab/CR/NBSP padding added — mungeid is Python str.strip()
    # (the FULL isspace class); space-only padding masked a trim gap
    vals = ["ABC-1", "  PadDed ", "﻿BOMID", "", "urn:x:Y",
            "\tTabbed\t", "CR\r", "\u00a0nb\u00a0",
            # r13 encoding-edge class: NFC/NFD twins (distinct bytes,
            # no normalization in the chain), fullwidth digits/letters
            # (str.lower maps Ａ->ａ), astral chars through the fold
            "Café", "Café", "ＩＤ１２３", "😀x"]

    rec_cases = []
    for i in range(40):
        d = {}
        for k in ("idigbio:recordId", "idigbio:recordID",
                  "dwc:occurrenceID", "id", "ID"):
            if rng.random() < 0.45:
                d[k] = rng.choice(vals)
        if rng.random() < 0.5:
            rr = []
            for _ in range(rng.randint(1, 2)):
                e = {}
                if rng.random() < 0.8:
                    e["dwc:relatedResourceID"] = rng.choice(vals[:4])
                if rng.random() < 0.8:
                    e["dwc:relationshipOfResource"] = rng.choice(
                        ["representedIn", "sameAs", "isRelatedTo"]
                    )
                rr.append(e)
            d["dwc:ResourceRelationship"] = rr
        rec_cases.append(d)

    rows = [
        (
            i,
            d.get("dwc:occurrenceID"),
            d.get("idigbio:recordId"),
            d.get("id"),
            d.get("idigbio:recordID"),
            [
                (e.get("dwc:relatedResourceID"),
                 e.get("dwc:relationshipOfResource"))
                for e in d["dwc:ResourceRelationship"]
            ]
            if "dwc:ResourceRelationship" in d
            else None,
            d.get("ID"),
        )
        for i, d in enumerate(rec_cases)
    ]
    df = spark.createDataFrame(
        rows,
        "i int, occ string, rid string, bid string, ridcap string, "
        "rr array<struct<relatedResourceID:string,"
        "relationshipOfResource:string>>, bidcap string",
    )
    got = {
        r["i"]: r["ids"]
        for r in df.select(
            "i",
            FIN.record_identifiers(
                F.lit(rsid), F.col("occ"), F.col("rid"), F.col("bid"),
                record_id_cap=F.col("ridcap"),
                resource_relationship=F.col("rr"),
                bare_id_cap=F.col("bidcap"),
            ).alias("ids"),
        ).collect()
    }
    for i, d in enumerate(rec_cases):
        expect = [cid for _, _, cid in
                  DB.identifyRecord("dwc:Occurrence", "ETAG", dict(d), rsid)]
        assert got[i] == expect, (i, d, got[i], expect)

    # mediarecords incl. the UConn skip (equal ids case-insensitively)
    med_cases = []
    for i in range(30):
        d = {}
        for k in ("idigbio:recordId", "idigbio:recordID"):
            if rng.random() < 0.4:
                d[k] = rng.choice(vals)
        if rng.random() < 0.7:
            d["ac:providerManagedID"] = rng.choice(["PMID-1", "Shared-X"])
        if rng.random() < 0.7:
            d["dcterms:identifier"] = rng.choice(
                ["http://m/1", "shared-x", "SHARED-X"]
            )
        med_cases.append(d)
    mrows = [
        (
            i,
            d.get("idigbio:recordId"),
            d.get("ac:providerManagedID"),
            d.get("dcterms:identifier"),
            d.get("idigbio:recordID"),
        )
        for i, d in enumerate(med_cases)
    ]
    mdf = spark.createDataFrame(
        mrows, "i int, rid string, pmid string, dct string, ridcap string"
    )
    mgot = {
        r["i"]: r["ids"]
        for r in mdf.select(
            "i",
            FIN.media_identifiers(
                F.lit(rsid), F.col("rid"), F.col("pmid"), F.col("dct"),
                record_id_cap=F.col("ridcap"),
            ).alias("ids"),
        ).collect()
    }
    for i, d in enumerate(med_cases):
        expect = [cid for _, _, cid in
                  DB.identifyRecord("dwc:Multimedia", "ETAG", dict(d), rsid)]
        assert mgot[i] == expect, (i, d, mgot[i], expect)


def test_mungeid_and_strip_nuls_vs_reference(ref_db_check, spark):
    DB = ref_db_check
    from idb_backend_spark.functions.enrichment import (
        munge_identifier,
        strip_nuls,
    )

    vals = ["﻿ ABC ", "x﻿y", "  pad  ", "", "No\x00tNul"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r["v"]: (r["m"], r["n"])
        for r in df.select(
            "v",
            munge_identifier(F.col("v")).alias("m"),
            strip_nuls(F.col("v")).alias("n"),
        ).collect()
    }
    for v in vals:
        # identifyRecord lowers AFTER mungeid; the engine folds the two
        assert got[v][0] == DB.mungeid(v).lower(), v
        assert got[v][1] == DB.strip_nuls(v), v


def test_collect_common_names_and_genbank_vs_reference(ref, spark):
    """collect_common_names' lowercase-key gbif loop quirk
    (conversions.py:818-835 — appends the LOWERCASE-keyed
    dwc:vernacularname once per gbif entry, so a canonical mixed-case
    publisher contributes nothing from the loop) and the GenBank
    accession findall, on randomized combinations."""
    rng = random.Random(909)
    cases = []
    for i in range(25):
        d = {}
        if rng.random() < 0.6:
            d["dwc:vernacularName"] = f"Sugar Maple {i}"
        if rng.random() < 0.4:
            d["dwc:vernacularname"] = f"lower maple {i}"
        if rng.random() < 0.6:
            d["gbif:vernacularname"] = [f"g{j}" for j in range(rng.randint(0, 3))]
        if rng.random() < 0.7:
            # r12: a unicode-digit accession added — Python \d is the
            # Nd category, Java \d is ASCII-only
            d["dwc:associatedSequences"] = rng.choice(
                ["AB123456; KX-98765", "nothing", "x1234567 yz_12345 q99999",
                 "AB\u0663\u0664\u0665\u0666\u0667 mixed kx12345"]
            )
        cases.append(d)
    rows = [
        (
            i,
            d.get("dwc:vernacularName"),
            d.get("gbif:vernacularname"),
            d.get("dwc:vernacularname"),
            d.get("dwc:associatedSequences", ""),
        )
        for i, d in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows, "i int, vn string, gvn array<string>, vnl string, seq string"
    )
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            G.collect_common_names(
                F.col("vn"), F.col("gvn"), F.col("vnl")
            ).alias("cn"),
            G.genbank_accessions(F.col("seq")).alias("gb"),
        ).collect()
    }
    for i, d in enumerate(cases):
        exp_cn = ref.collect_common_names("records", dict(d))["commonnames"]
        exp_gb = ref.collect_genbank_sequences("records", dict(d))[
            "associatedsequences"
        ]
        assert got[i]["cn"] == exp_cn, (i, d, got[i]["cn"], exp_cn)
        assert got[i]["gb"] == exp_gb, (i, d, got[i]["gb"], exp_gb)


def test_normalize_delimiter_vs_reference(ref_db_check, spark):
    """DelimitedFile._normalize_delimiter (delimited.py:63-125) vs the
    engine's normalize_delimiter on the full spelling battery, with the
    one documented divergence asserted: the reference ``.strip()``s the
    raw value FIRST, so a LITERAL tab (or space) character — not the
    '\\t' escape — strips to '' and silently becomes the comma default,
    mis-splitting every row of a literal-tab TSV; the engine keeps the
    literal whitespace (sources/delimited.py:72-79's early return)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ref_delimited", "/root/reference/idigbio_ingestion/lib/delimited.py"
    )
    ref_del = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref_del)

    from idb_backend_spark.sources.delimited import normalize_delimiter

    def ref_norm(d):
        inst = object.__new__(ref_del.DelimitedFile)
        return ref_del.DelimitedFile._normalize_delimiter(inst, d)

    same = [
        None, "tab", "TAB", "\\t", "\\n", "\\r", "0x09", "0x7C",
        "&#9;", "&#x9;", "'|'", '"\\t"', "||", ",,", "|", ";", "",
        b"\t"[:0] + b",",
    ]
    for d in same:
        assert normalize_delimiter(d) == ref_norm(d), repr(d)
    for bad in ("ab", ";;x"):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            ref_norm(bad)
        with _pytest.raises(ValueError):
            normalize_delimiter(bad)
    # the documented divergence: literal whitespace delimiters
    for lit in ("\t", " ", "\t\t"):
        assert ref_norm(lit) == ","  # stripped to '' -> default
        assert normalize_delimiter(lit) == lit[0]


def test_fix_taxon_rank_vs_reference(ref, spark):
    """fix_taxon_rank (conversions.py:895-913) over every mapping key,
    every acceptable-but-unmapped value, invalids, and the absent arm —
    mapping-to-None removal, identity pass-through, replacement."""
    sys.path.insert(0, "/root/reference")
    from idb.data_tables import taxon_rank as ref_tr

    # fix_taxon_rank consumes the TYPED dict — getfield already
    # lowercased the value (conversions.py:274-287), so the tables'
    # mixed-case entries (e.g. 'cultivarGroup' in acceptable) are DEAD
    # post-fold; the differential feeds the folded domain the pipeline
    # actually delivers
    vals = sorted(
        {v.lower() for v in ref_tr.mapping}
        | {v.lower() for v in list(ref_tr.acceptable)[:40]}
    ) + ["definitely-not-a-rank", "sp.", "", None]
    df = spark.createDataFrame([(v,) for v in vals], "v string").dropDuplicates()
    out = E.fix_taxon_rank(F.col("v"))
    got = {
        r["v"]: r
        for r in df.select(
            "v",
            out["value"].alias("value"),
            flag_column(out["flag_removed"]).alias("rm"),
            flag_column(out["flag_invalid"]).alias("inv"),
            flag_column(out["flag_replaced"]).alias("rep"),
        ).collect()
    }
    for v in vals:
        r = {"taxonrank": v} if v is not None else {}
        ref.fix_taxon_rank("records", r)
        g = got[v]
        assert g["value"] == r.get("taxonrank"), (v, g["value"], r)
        assert bool(g["rm"]) == bool(r.get("flag_dwc_taxonrank_removed")), v
        assert bool(g["inv"]) == bool(r.get("flag_dwc_taxonrank_invalid")), v
        assert bool(g["rep"]) == bool(r.get("flag_dwc_taxonrank_replaced")), v


def test_prep_for_es_vs_reference(ref_db_check, spark):
    """prepForEs EXECUTED (idb/indexing/indexer.py:50-89 — the module
    loads under the same auto-stub hook; elasticsearch/pytz fabricated)
    over randomized typed docs vs finalize_index_document with
    drop_empty_strings=False (the py3-runtime arm): the point struct's
    {lon, lat} order, date isoformat, None/absent skip, and the DEAD
    skip-empty branch (basestring NameErrors into the bare except, so
    '' and empty lists all survive) — upgrading the transcribed pin in
    tests/test_finalize.py to a machine-derived one."""
    from idb.indexing import indexer as RIX

    from idb_backend_spark.functions import finalize as FIN
    from conftest import soak_seeds

    for seed in soak_seeds(80808):
        _soak_prep_for_es(RIX, FIN, spark, random.Random(seed))


def _soak_prep_for_es(RIX, FIN, spark, rng):
    import datetime as _dt

    texts = ["", "x", "  ", "Acer rubrum", None, "ABSENT",
             "ünïcode✓", "\U00010570astral", "pad  "]
    docs = []
    for i in range(80):
        d = {"uuid": f"u{i}"}
        for fname in ("kingdom", "phylum", "genus", "locality"):
            v = rng.choice(texts)
            if v == "ABSENT":
                continue
            if v is not None:
                d[fname] = v
            else:
                d[fname] = None
        if rng.random() < 0.7:
            d["geopoint"] = [round(rng.uniform(-180, 180), 4),
                             round(rng.uniform(-90, 90), 4)]
        if rng.random() < 0.7:
            d["datemodified"] = _dt.date(2020, 1 + i % 12, 1 + i % 28)
        if rng.random() < 0.5:
            d["recordids"] = rng.choice([[], ["a"], ["a", "b"]])
        if rng.random() < 0.5:
            d["version"] = rng.choice([0, 3])
        docs.append(d)

    expected = [RIX.prepForEs("records", dict(d)) for d in docs]

    from pyspark.sql import Row as _Row

    rows = [
        _Row(
            uuid=d["uuid"],
            kingdom=d.get("kingdom"),
            phylum=d.get("phylum"),
            genus=d.get("genus"),
            locality=d.get("locality"),
            lon=d.get("geopoint", [None, None])[0],
            lat=d.get("geopoint", [None, None])[1],
            datemodified=d.get("datemodified"),
            recordids=d.get("recordids"),
            version=d.get("version"),
        )
        for d in docs
    ]
    df = spark.createDataFrame(
        rows,
        "uuid string, kingdom string, phylum string, genus string, "
        "locality string, lon double, lat double, datemodified date, "
        "recordids array<string>, version long",
    )
    out = FIN.finalize_index_document(
        df, date_cols=("datemodified",), drop_empty_strings=False
    )
    got = {r["uuid"]: r for r in out.collect()}

    for d, exp in zip(docs, expected):
        g = got[d["uuid"]]
        for fname in ("kingdom", "phylum", "genus", "locality"):
            assert g[fname] == exp.get(fname), (d, fname, exp)
        if "geopoint" in exp:
            assert g["geopoint"].asDict() == exp["geopoint"], d
        else:
            assert g["geopoint"] is None, d
        if "datemodified" in exp:
            assert g["datemodified_iso"] == exp["datemodified"], d
        else:
            assert g["datemodified_iso"] is None, d
        assert (g["recordids"] or None) == (
            exp.get("recordids") or None
        ), (d, exp)
        assert g["version"] == exp.get("version"), (d, exp)


def test_render_query_text_vs_reference(requires_reference):
    """format_row's query humanizer EXECUTED (idb/reporting/stats_by_rs
    .py:22-58; statsdb stubbed — format_row is pure) vs
    operators/reporting.render_query_text. On py3 the reference's
    ``keys()[0]`` is dict_keys indexing — every term/terms block raises
    TypeError, so those arms are py2-dead (machine-pinned below) and
    the engine's ``list(keys())[0]`` is the py2-intent reading; the
    arms that DO run on py3 (fulltext, exists, missing, raw-JSON
    fallback, empty fallback, trailing-comma trim) must agree
    byte-for-byte — the transcription the round-10 copy sweep flagged
    is hereby machine-verified, not just cited."""
    import importlib.util
    import json as _json

    sys.modules.setdefault(
        "idb.postgres_backend.stats_db", mock.MagicMock()
    )
    spec = importlib.util.spec_from_file_location(
        "ref_stats_by_rs", "/root/reference/idb/reporting/stats_by_rs.py"
    )
    RS = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(RS)

    from idb_backend_spark.operators.reporting import render_query_text

    def ref_render(qjson):
        # format_row wraps the render in the TSV row; strip that frame
        row = RS.format_row({"id": 1, "query": qjson, "count": 2})
        assert row.startswith("1\t") and row.endswith("\t2\n")
        return row[2:-3]

    py3_alive = [
        {"filtered": {"query": {"match": {"_all": {"query": "acer"}}}}},
        {"filtered": {"query": {"match": {"_all": {"query": "a b"}}},
                      "filter": {"and": [
                          {"exists": {"field": "geopoint"}},
                          {"missing": {"field": "dwc:kingdom"}},
                      ]}}},
        {"filtered": {"filter": {"and": [
            {"range": {"lat": {"gte": 1}}},  # else arm: raw JSON
        ]}}},
        {"some": "other shape"},  # empty render -> raw query fallback
    ]
    for q in py3_alive:
        qjson = _json.dumps(q)
        assert ref_render(qjson) == render_query_text(qjson), q

    # py2-dead arms, machine-pinned: term/terms TypeError on py3
    for q in (
        {"filtered": {"filter": {"and": [{"term": {"genus": "acer"}}]}}},
        {"filtered": {"filter": {"and": [{"terms": {
            "execution": "or", "genus": ["a", "b"]}}]}}},
    ):
        with pytest.raises(TypeError):
            ref_render(_json.dumps(q))
        # the engine's py2-intent reading still renders them
        assert "genus" in render_query_text(_json.dumps(q))


def test_mangle_string_vs_reference(ref, spark):
    """mangleString (conversions.py:311-316, the datum-normalization
    fold) executed over a pool that exercises the exact character
    class: the reference's ``[\\W]+`` keeps UNDERSCORES and unicode
    letters/digits — 'NAD_83' must stay 'NAD_83' (an unknown datum
    there; an ASCII-only fold would alias it to NAD83 and shift
    coordinates the reference refuses to touch). Runs the engine's
    Column fold and its Python twin against the real function."""
    from idb_backend_spark.functions.geo import mangle_string

    CONV = ref
    vals = [
        "NAD_83", "D_WGS_1984", "World Geodetic System 1984",
        "wgs 84", "EPSG:4326", "WGS-84ü", "токио84", "NAD83(HARN)",
        "étag", "ß-datum", "٣datum", " WGS84 ", "__", "", "——",
    ]
    expect = {v: CONV.mangleString(v) for v in vals}
    for v in vals:
        assert mangle_string(v) == expect[v], v

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r["v"]: r["m"]
        for r in df.select(
            "v",
            F.upper(
                F.regexp_replace("v", r"[^\p{L}\p{N}_]+", "")
            ).alias("m"),
        ).collect()
    }
    for v in vals:
        assert got[v] == expect[v], (v, got[v], expect[v])


def test_decimal_exponent_unicode_exponent_boundary(ref, spark):
    """r12 follow-up: the '1e٣' corner is no longer a boundary — the
    normalize-first form translates Nd digits in the EXPONENT too, so
    the engine reads -3 exactly like Decimal."""
    from pyspark.sql import functions as F

    for v, want in (("1e٣", -3), ("1_0.5_5", 2), ("_1", 0)):
        assert ref.getExponent(v) == want, v
        df = spark.createDataFrame([(v,)], "v string")
        got = df.select(G.decimal_exponent("v").alias("o")).first()["o"]
        assert got == want, (v, got, want)


def test_geo_grabber_vs_reference(ref, spark):
    """geoGrabber's coordinate arm (conversions.py:446-480) EXECUTED —
    rows carry no dwc:geodeticDatum so the pyproj section never runs
    and the whole parse/flip/bounds/precision chain is pure python:
    float() coercion (unicode digits accepted, Java suffixes rejected),
    the auto-flip window, the bounds nulling, and the <=2 low-precision
    gate fed by getExponent."""
    from idb_backend_spark.functions.enrichment import with_geo_normalize
    from pyspark.sql import functions as F

    CONV = ref
    coords = [
        "12.345", "91.5", "-100.0", "179.9", "-91", "45", "0.01",
        "٣٤.٥٦٧", " 12.5\t", "12.5f", "1d", "1_0.5", "abc", "", "inf",
        "nan", "-0.004", "89.99999", "7,5",
    ]
    import random as _r

    rng = _r.Random(777)
    cases = []
    for i in range(60):
        cases.append(
            {"dwc:decimalLatitude": rng.choice(coords),
             "dwc:decimalLongitude": rng.choice(coords)}
        )
    df = spark.createDataFrame(
        [(i, d["dwc:decimalLatitude"], d["dwc:decimalLongitude"])
         for i, d in enumerate(cases)],
        "i int, lat string, lon string",
    )
    g = with_geo_normalize(df, F.col("lat"), F.col("lon"))
    got = {
        r["i"]: r
        for r in g.select(
            "i", F.col("__geo_lat").alias("la"), F.col("__geo_lon").alias("lo"),
            F.col("__flag_pre_flip").alias("ff"),
            F.col("__flag_bounds").alias("fb"),
            F.col("__flag_low_precision").alias("fp"),
        ).collect()
    }
    for i, d in enumerate(cases):
        r = CONV.geoGrabber("records", dict(d))
        e = got[i]
        gp = r.get("geopoint")
        if gp is None:
            assert e["la"] is None and e["lo"] is None, (i, d, e, r)
        else:
            lon, lat = gp
            assert e["la"] == pytest.approx(lat), (i, d, e, r)
            assert e["lo"] == pytest.approx(lon), (i, d, e, r)
        # flags: engine emits the flag string when set, null when not
        assert bool(e["ff"]) == bool(r.get("flag_geopoint_pre_flip")), (
            i, d, e, r)
        assert bool(e["fb"]) == bool(r.get("flag_geopoint_bounds")), (
            i, d, e, r)
        assert bool(e["fp"]) == bool(
            r.get("flag_geopoint_low_precision")), (i, d, e, r)


def test_case_fold_class_python_vs_spark(spark):
    """r13 pin (verdict r12 task 6): every engine fold that composes
    F.lower with a Python-mirrored rule assumes Spark lower() ==
    str.lower(). Probed clean across the exotic classes — dotted
    capital I (two-codepoint lowering), capital sharp S, Greek sigma
    (BOTH non-contextual: no final-sigma special-casing on either
    side), ligatures (unchanged — lower() does not decompose), fullwidth,
    Cherokee, astral Deseret, titlecase digraphs. If a Spark upgrade
    ever turns on contextual or locale-sensitive casing, this is the
    alarm."""
    vals = [
        "İstanbul", "ẞIG", "ΟΔΟΣ", "ΣΙΓΜΑ Σ τέλος Σ", "ﬁle ﬂag",
        "ＡＢＣ", "Ꭰ", "𐐀A", "ŉx", "ǅungla", "ĲSSEL", "ȺB",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r["v"]: r["l"]
        for r in df.select("v", F.lower("v").alias("l")).collect()
    }
    for v in vals:
        assert got[v] == v.lower(), (v, got[v], v.lower())


def test_lone_surrogate_etag_raises_both_sides(requires_reference):
    """r13 pin: a lone UTF-16 surrogate in a record value cannot be
    UTF-8 encoded — the reference's calcEtag raises UnicodeEncodeError
    at .encode('utf8') (the ingest loop's bare-except bucket); the
    engine's calc_etag must raise identically, never hash a replacement
    byte. (Spark columns cannot even carry a lone surrogate — Arrow
    rejects it at transfer — so the boundary only exists in the
    Python kernels.)"""
    sys.path.insert(0, "/root/reference")
    from idb.helpers import etags as ref_etags

    from idb_backend_spark.functions.etags import calc_etag

    bad = {"dwc:occurrenceID": "x\ud800y"}
    with pytest.raises(UnicodeEncodeError):
        ref_etags.calcEtag(dict(bad))
    with pytest.raises(UnicodeEncodeError):
        calc_etag(dict(bad))


# --- r14: the locale boundary CLOSED (VERDICT r13 task 6) -------------

_GROUPING_POOL = [
    # comma/grouping edges through the full reference chain
    # (grabFirstNumber token -> locale.atof/atoi under en_US data)
    "2,050", "12,345", "1,234.5", "+1,000", "-1,000.25", "1,000,000",
    "9,999.", "1,000.000", "999,999,999,999",
    # malformed groupings: gfn stops at the first non-conforming comma
    "1,23,4", "1,,000", "1,2345", "12,3456,789", "0,000", "00,123",
    ",100", "100,", "1, 000", "-,5", "+,", "7,5", "12,34.5", "5.,5",
    "0.5,6", "1.000,5", "3.222.111",
    # embedded in text
    "alt 1,500 m", "about 1,234.75 meters", "  1,000  ", "elev 2,050m",
    # digits the ASCII-only grammar must skip entirely
    "١٢٣", "1٬000", "１，０００", "۱۲۳,456",
    # no grouping at all (control arm shared with the C-locale test)
    "42", "-0.5", "", "x", "12.",
]


def test_number_grabbers_grouping_vs_reference_en_us(ref, spark):
    """The grouping-separator semantics EXECUTED, closing SURVEY §5's
    locale boundary: the container lacks en_US locale DATA (setlocale
    succeeds off $LANG but localeconv carries C values — empty
    thousands_sep), so grouped tokens could never be driven through
    the real coercion here before. CPython's locale module exposes
    ``_override_localeconv`` (the hook its own test_locale uses):
    populating it with en_US numeric data (thousands_sep=',',
    decimal_point='.' — glibc en_US, public locale data) makes the REAL
    ``locale.atof``/``locale.atoi`` — the exact delocalize code path
    production ran — execute with production semantics. Oracle = the
    reference's grabFirstNumber token + real locale coercion under the
    override, with elevGrabber/intGrabber's try/except-None; engine =
    grab_first_number / int_grabber."""
    import locale

    df = spark.createDataFrame([(s,) for s in _GROUPING_POOL], "v string")
    got = {
        r["v"]: r
        for r in df.select(
            "v",
            G.grab_first_number("v").alias("f"),
            G.int_grabber("v").alias("i"),
        ).collect()
    }
    assert not locale._override_localeconv  # nothing else is overriding
    locale._override_localeconv.update(
        {"thousands_sep": ",", "decimal_point": "."}
    )
    try:
        for s in _GROUPING_POOL:
            tok = ref.grabFirstNumber(s)
            if tok is None:
                exp_f = exp_i = None
            else:
                try:
                    exp_f = locale.atof(tok)
                except ValueError:
                    exp_f = None
                try:
                    exp_i = locale.atoi(tok)
                except ValueError:
                    exp_i = None
            assert got[s]["f"] == exp_f, (s, tok, got[s]["f"], exp_f)
            assert got[s]["i"] == exp_i, (s, tok, got[s]["i"], exp_i)
    finally:
        locale._override_localeconv.clear()


def test_en_us_locale_data_assumption_pinned():
    """The override's values ARE the assumption — pin them against the
    real locale when one is present so a container that gains en_US
    promotes this from vendored data to installed-locale execution
    (and would FAIL here if glibc's en_US ever disagreed)."""
    import locale

    try:
        locale.setlocale(locale.LC_NUMERIC, "en_US.UTF-8")
    except locale.Error:
        import pytest

        pytest.skip("en_US.UTF-8 locale data not installed")
    try:
        conv = locale.localeconv()
        assert conv["thousands_sep"] == ","
        assert conv["decimal_point"] == "."
    finally:
        locale.setlocale(locale.LC_NUMERIC, "C")
