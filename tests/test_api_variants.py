"""Value tests for the alternate-input API variants — each must agree
with its primary-form sibling (the graded path), so the variant surface
can never drift from the semantics the driver certifies."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_float_grabber_is_grab_first_number(spark):
    from idb_backend_spark.functions.grabbers import (
        float_grabber,
        grab_first_number,
    )

    df = spark.createDataFrame(
        [("12.5 m",), ("1,200 ft",), ("none",), (None,)], "s string"
    )
    got = df.select(
        float_grabber("s").alias("f"), grab_first_number("s").alias("g")
    ).collect()
    assert [(r["f"], r["g"]) for r in got] == [
        (12.5, 12.5), (1200.0, 1200.0), (None, None), (None, None)
    ]


def test_getfield_list_folds_elementwise_like_getfield(spark):
    from idb_backend_spark.functions.grabbers import getfield, getfield_list

    df = spark.createDataFrame(
        [(["  A ", "b", " C"],)], "xs array<string>"
    ).withColumn("x", F.explode("xs"))
    via_list = df.select(getfield_list("xs").alias("v")).first()["v"]
    via_scalar = [r["v"] for r in df.select(getfield("x").alias("v")).collect()]
    assert via_list == via_scalar == ["a", "b", "c"]


def test_fused_marker_scan_agrees_with_per_language_scans(spark):
    """r16 fusion: lang_id over a staged lang_marker_hits_string column
    (ONE regexp_extract_all document scan, tallies re-scan the short
    hits string) must equal lang_id_from_norm over the full text (one
    regexp_count scan per language), and the en tally off the same
    string must equal marker_hits_from_norm — on the adversarial
    shapes: prefix-shadow candidates ('de' vs 'der'/'des'), the
    es/fr-shared 'la', adjacent and repeated markers, empty and NULL
    text, marker-free text."""
    from pyspark.sql import Row

    from idb_backend_spark.functions.text import (
        LANG_MARKERS,
        lang_id_from_norm,
        lang_marker_hits_string,
        marker_hits_from_norm,
        normalize_text,
    )

    texts = [
        "the and is of a plain english text the the",
        "der und die das der von",            # de only
        "de la le les de des",                # fr/es mix with prefixes
        "de de de der des la la",             # prefix + shared-word soup
        "el la los las es un",                # es
        "the der el le une el el",            # cross-language tie bait
        "xyzzy plugh nothing",                # no markers
        "",                                   # empty
        None,                                 # NULL text
        "the:de,la.der!des the",              # punctuation boundaries
        "  the   der\t\tla  ",                # whitespace soup
    ]
    df = spark.createDataFrame(
        [Row(i=i, text=t) for i, t in enumerate(texts)]
    ).withColumn("__norm", normalize_text("text")).withColumn(
        "__lhits_s", lang_marker_hits_string(F.col("__norm"))
    )
    en = LANG_MARKERS["en"]
    out = df.select(
        "i",
        lang_id_from_norm(F.col("__norm")).alias("a"),
        lang_id_from_norm(F.col("__lhits_s")).alias("b"),
        marker_hits_from_norm(F.col("__norm"), en).alias("ha"),
        marker_hits_from_norm(F.col("__lhits_s"), en).alias("hb"),
    ).orderBy("i").collect()
    for r in out:
        assert r.a == r.b, (r.i, r.a, r.b)
        assert r.ha == r.hb, (r.i, r.ha, r.hb)
    # and no marker word contains a space — the single-token property
    # the union alternation's count equivalence rests on
    assert all(" " not in w for ws in LANG_MARKERS.values() for w in ws)


def test_with_flags_folds_like_fold_flags(spark):
    """fold_flags takes both flag forms: a flag_when spec folds as
    ``when(cond, array(name))``, so its condition appears once in the
    optimized plan, and a staged string flag column (flag_column's
    output) folds to the same array."""
    from idb_backend_spark.functions.flags import (
        flag_column,
        flag_when,
        fold_flags,
    )

    # spark.range, not a local relation: the optimizer would evaluate a
    # projection over literal rows away
    df = spark.range(4).select(
        "id",
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("s"),
        (F.col("id") % 2).alias("b"),
    )
    a_set = flag_when("a_set", F.col("s").contains("k1"))
    b_set = flag_when("b_set", F.col("b") == 1)
    via_spec = df.select("id", fold_flags(a_set, b_set).alias("flags"))
    optimized = via_spec._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Contains(") == 1, optimized

    staged = df.select(
        "id",
        flag_column(a_set).alias("__flag_a"),
        flag_column(b_set).alias("__flag_b"),
    )
    via_staged = staged.select(
        "id", fold_flags(F.col("__flag_a"), F.col("__flag_b")).alias("flags")
    )
    got = [
        {r["id"]: list(r["flags"]) for r in q.collect()}
        for q in (via_spec, via_staged)
    ]
    assert got[0] == got[1] == {0: [], 1: ["a_set", "b_set"], 2: [],
                                3: ["b_set"]}


def test_standard_coord_flags_reference_semantics(spark):
    """conversions.py:235-246 — geopoint_0_coord fires when EITHER
    coordinate is zero; geopoint_similar_coord when |lat| == |lon|;
    NULL coordinates yield no flag (the setFlags None guard)."""
    from idb_backend_spark.functions.flags import (
        fold_flags,
        standard_coord_flags,
    )

    df = spark.createDataFrame(
        [
            (1, 0.0, 10.0),
            (2, 10.0, 0.0),
            (3, 0.0, 0.0),
            (4, -12.5, 12.5),
            (5, 3.0, 4.0),
            (6, None, 4.0),
        ],
        "i int, lat double, lon double",
    )
    got = {
        r["i"]: list(r["flags"])
        for r in df.select(
            "i",
            fold_flags(
                *standard_coord_flags(F.col("lat"), F.col("lon"))
            ).alias("flags"),
        ).collect()
    }
    assert got[1] == ["geopoint_0_coord"]
    assert got[2] == ["geopoint_0_coord"]
    assert got[3] == ["geopoint_0_coord", "geopoint_similar_coord"]
    assert got[4] == ["geopoint_similar_coord"]
    assert got[5] == []
    assert got[6] == []


def test_box_ring_closes_counterclockwise_rectangle():
    from idb_backend_spark.functions.geo import _ring_contains, box_ring

    ring = box_ring(-10.0, -5.0, 10.0, 5.0)
    assert len(ring) == 4
    assert _ring_contains(ring, 0.0, 0.0)
    assert not _ring_contains(ring, 11.0, 0.0)
    assert not _ring_contains(ring, 0.0, 6.0)


def test_decimal_exponent_matches_reference_getexponent(spark):
    """F5 parity battery: the native expression must equal the
    reference's -1 * Decimal(s).as_tuple().exponent (incl. scientific
    notation and the bare-except 0 for unparseable/NaN inputs), and the
    DuckDB twin must equal both."""
    import decimal

    import duckdb

    from idb_backend_spark.functions.grabbers import decimal_exponent
    from idb_backend_spark.plans.synth import decimal_exponent_sql

    def ref(fs):
        try:
            return -1 * decimal.Decimal(fs).as_tuple().exponent
        except Exception:
            return 0

    cases = [
        "12.125", "5.10", "5.", ".5", "5", "150", "0.0",
        "1.5e-3", "1E2", "2e+1", "-3.25E-2",
        "abc", "1.23 m", "NaN", "Infinity", "", "  7.25  ",
        # absurd exponent: engine and twin both fold the int overflow to
        # 0 (documented divergence from Decimal's astronomical integer)
        "1e99999999999",
    ]
    want = []
    for s in cases:
        try:
            r = -1 * decimal.Decimal(s).as_tuple().exponent
            if not isinstance(r, int):
                # r10 differential correction: NaN/Infinity PARSE and
                # the string exponent makes -1 * 'n' the EMPTY string —
                # the py2 consumer's '' <= 2 is False (never flagged),
                # modeled as NULL (this test previously folded it to 0,
                # which wrongly FLAGGED NaN coords as low precision)
                r = None
            elif abs(r) > 2**31:
                r = 0
        except Exception:
            r = 0
        want.append(r)
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [
        r["e"]
        for r in df.select(decimal_exponent("s").alias("e")).collect()
    ]
    assert got == want, list(zip(cases, got, want))
    con = duckdb.connect()
    con.sql("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(c,) for c in cases])
    twin = [
        r[0]
        for r in con.sql(
            f"SELECT {decimal_exponent_sql('s')} FROM t"
        ).fetchall()
    ]
    assert twin == want, list(zip(cases, twin, want))


def test_int_grabber_rejects_fractional_like_locale_atoi(spark):
    """F4 parity: the reference converts with locale.atoi, which raises
    on a fractional token (the field stays None) instead of truncating;
    thousands separators (en_US) still coerce."""
    from idb_backend_spark.functions.grabbers import int_grabber

    df = spark.createDataFrame(
        [("12 m",), ("12.5 m",), ("1,200 ft",), ("-7",), ("abc",), (None,)],
        "s string",
    )
    got = [r["v"] for r in df.select(int_grabber("s").alias("v")).collect()]
    assert got == [12, None, 1200, -7, None, None]


def test_date_fallback_reference_branch_nesting(spark):
    """conversions.py:604-624 — startDayOfYear applies ONLY when a month
    is present and the day is not; without a month the bare year parses
    to Jan 1 and sdoy is ignored; garbage parts yield NULL (the single
    try/except abort), never an ANSI runtime error."""
    from idb_backend_spark.functions.enrichment import date_fallback

    rows = [
        # (id, eventdate, y, m, d, sdoy, expected)
        (1, "2020-05-06", "1999", "2", "3", "40", "2020-05-06"),  # eventdate wins
        (2, None, "1999", "2", "3", "40", "1999-02-03"),          # day wins
        (3, None, "1999", "2", None, "40", "1999-02-09"),         # sdoy (month present)
        (4, None, "1999", None, None, "40", "1999-01-01"),        # sdoy IGNORED (no month)
        (5, None, "1999", "2", None, None, "1999-02-01"),         # first of month
        (6, None, "1999", None, None, None, "1999-01-01"),        # bare year
        (7, None, "1999", "2", "31", None, None),                 # invalid day aborts
        (8, None, "1999", "2", None, "40.5", None),               # atoi rejects -> abort
        (9, None, "19x9", "2", "3", None, None),                  # garbage year -> NULL
        (10, None, None, "2", "3", None, None),                   # no year -> NULL
    ]
    df = spark.createDataFrame(
        rows,
        "id int, ed string, y string, m string, d string, sdoy string, want string",
    ).withColumn("ed", F.to_date("ed"))
    got = {
        r["id"]: (str(r["dc"]) if r["dc"] is not None else None, r["want"])
        for r in df.select(
            "id",
            "want",
            date_fallback(
                F.col("ed"), F.col("y"), F.col("m"), F.col("d"), F.col("sdoy")
            ).alias("dc"),
        ).collect()
    }
    for i, (dc, want) in got.items():
        assert dc == want, (i, dc, want)


def test_collect_common_names_reference_quirks(spark):
    """F15 commonnames (conversions.py:818-835): the verbatim
    dwc:vernacularName seeds the list RAW (no case fold); the gbif loop
    appends the LOWERCASE-keyed value once per gbif entry (the
    reference's exact behavior — normally a no-op because publishers
    write the mixed-case CURIE); no names -> empty list, never NULL."""
    from idb_backend_spark.functions.grabbers import collect_common_names

    df = spark.createDataFrame(
        [
            (1, "Red Fox", None, None),
            (2, None, None, None),
            (3, "Red Fox", ["a", "b"], None),      # gbif list, no lower key
            (4, "Red Fox", ["a", "b"], "red fox"),  # lower key present
        ],
        "i int, vn string, gbif array<string>, vn_lower string",
    )
    got = {
        r["i"]: list(r["cns"])
        for r in df.select(
            "i",
            collect_common_names(
                F.col("vn"), F.col("gbif"), F.col("vn_lower")
            ).alias("cns"),
        ).collect()
    }
    assert got[1] == ["Red Fox"]
    assert got[2] == []
    assert got[3] == ["Red Fox"]
    assert got[4] == ["Red Fox", "red fox", "red fox"]
    # the two-arg form (no gbif plumbing) is the common projection
    two = df.select(
        collect_common_names(F.col("vn")).alias("cns")
    ).collect()
    assert [list(r["cns"]) for r in two] == [
        ["Red Fox"], [], ["Red Fox"], ["Red Fox"]
    ]


def test_bor_rule_order_matches_reference_elif_chain(spark):
    """conversions.py:871-887 — the needle checks run in the reference's
    elif order, with the machine+observation compound BETWEEN 'specimen'
    and 'observation': a value containing several needles resolves to
    the FIRST one, not the compound."""
    from idb_backend_spark.functions.enrichment import fix_basis_of_record

    df = spark.createDataFrame(
        [
            (1, "machine observation of a preserved specimen"),
            (2, "MachineObservation"),
            (3, "machine-made record"),   # machine w/o observation -> no match
            (4, "observation"),
            (5, "fossil machine observation"),
        ],
        "i int, bor string",
    )
    out = fix_basis_of_record(F.col("bor"))
    got = {
        r["i"]: r["v"]
        for r in df.select("i", out["value"].alias("v")).collect()
    }
    assert got[1] == "preservedspecimen"   # 'preserved' wins over compound
    assert got[2] == "machineobservation"
    assert got[3] is None                  # removed (no rule matched)
    assert got[4] == "humanobservation"
    assert got[5] == "fossilspecimen"      # 'fossil' precedes the compound


# --------------------------------------------------------------------------
# Multimodal fake/real seams — the deterministic-fake grading path is
# pinned to the SHARED kernels the real (PIL/PyAV/model) path also uses,
# so the fake side can never drift from the real decoder's bit math.
# Every assertion here runs WITHOUT pillow/PyAV: what is pinned is the
# composition contract (fake UDF == shared-scalar-kernel ∘ fake-input
# generator), not the real decode itself.
# --------------------------------------------------------------------------


def test_image_phash_fake_composes_shared_bit_kernel(spark):
    """image_phash(fake=True) must equal phash_bits_from_pixels over
    _fake_pixels — the SAME bit kernel the real path feeds with resized
    PIL pixels. An inlined re-implementation in the UDF would pass the
    goldens by luck and drift later; this pins the composition."""
    from idb_backend_spark.functions.multimodal import (
        _fake_pixels,
        image_phash,
        phash_bits_from_pixels,
    )

    blobs = [b"\xff\xd8\xffjpeg-ish", b"PNG-ish bytes", b"", None]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)], "id long, content binary"
    )
    got = {
        r["id"]: (r["ahash"], r["dhash"])
        for r in image_phash(df, fake=True).collect()
    }
    for i, b in enumerate(blobs):
        if b is None:
            assert got[i] == (None, None)
            continue
        want = (
            phash_bits_from_pixels(_fake_pixels(b, 64), "ahash"),
            phash_bits_from_pixels(_fake_pixels(b, 72), "dhash"),
        )
        assert got[i] == want, i


def test_decode_and_derivatives_share_fake_dims(spark):
    """decode_image(fake) and generate_derivatives(fake) must report the
    SAME hash-derived source dimensions for the same blob (one
    _fake_dims source), and the sized derivatives must apply the real
    path's proportional never-upscale arithmetic to them."""
    from idb_backend_spark.functions.multimodal import (
        WIDTHS,
        _fake_dims,
        decode_image,
        generate_derivatives,
    )

    blobs = [b"\xff\xd8\xff\xe0 big jpeg", b"tiny", b"another blob body"]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)], "id long, content binary"
    )
    dec = {
        r["id"]: (r["width"], r["height"])
        for r in decode_image(df, fake=True).collect()
    }
    der = {
        (r["id"], r["dtype"]): (r["width"], r["height"])
        for r in generate_derivatives(df, fake=True).collect()
    }
    for i, b in enumerate(blobs):
        w, h = _fake_dims(b)
        assert dec[i] == (w, h), i
        assert der[(i, "fullsize")] == (w, h), i
        for d, tw in WIDTHS.items():
            expect = (tw, int(h * tw / w)) if w > tw else (w, h)
            assert der[(i, d)] == expect, (i, d)


def _pcm16_wav(freq: float, n_frames: int = 2200, rate: int = 8000) -> bytes:
    import io as _io
    import math as _math
    import struct
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack(
                "<h", int(20000 * _math.sin(2 * _math.pi * freq * t / rate))
            )
            for t in range(n_frames)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_audio_waveform_matches_scalar_kernel_both_seams(spark):
    """The audio UDF's REAL leg (stdlib WAV + numpy — no optional deps)
    must equal the scalar wav_rms_peaks kernel row-for-row, and the
    FAKE leg must equal its documented sha1-derived peak formula; a
    corrupt blob must yield the NULL row, not a task error."""
    import hashlib

    from idb_backend_spark.functions.multimodal import (
        AUDIO_BAR_COUNT,
        AUDIO_DB_CEILING,
        audio_waveform,
        wav_rms_peaks,
    )

    wavs = [_pcm16_wav(440.0), _pcm16_wav(97.0, n_frames=900)]
    blobs = wavs + [b"not a wav at all"]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)], "id long, content binary"
    )
    real = {
        r["id"]: (r["duration_ms"], r["peaks"])
        for r in audio_waveform(df, fake=False).collect()
    }
    for i, b in enumerate(wavs):
        dur, peaks = wav_rms_peaks(b)
        assert real[i] == (dur, peaks), i
    assert real[2] == (None, None)  # undecodable -> NULL row

    fake = {
        r["id"]: (r["duration_ms"], r["peaks"])
        for r in audio_waveform(df, fake=True).collect()
    }
    for i, b in enumerate(blobs):
        h = hashlib.sha1(b).digest()
        want = [
            h[j % 20] * AUDIO_DB_CEILING // 255 for j in range(AUDIO_BAR_COUNT)
        ]
        assert fake[i] == (len(b), want), i


def test_extract_features_fake_is_unit_norm_sha1_lanes(spark):
    """extract_features' gated fake must equal its documented kernel —
    sha1-chain lanes mapped to [-1, 1) then L2-normalized — and be a
    unit vector; NULL content stays NULL. Pinning the formula keeps the
    graded embedding plumbing byte-stable across refactors."""
    import hashlib
    import math

    from idb_backend_spark.functions.multimodal import extract_features

    blobs = [b"media blob one", b"", None]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)], "id long, content binary"
    )
    got = {
        r["id"]: r["embedding"]
        for r in extract_features(df, dim=16).collect()
    }
    assert got[2] is None
    for i, b in enumerate(blobs[:2]):
        raw, h = [], b""
        while len(raw) < 16:
            h = hashlib.sha1(h + b).digest()
            raw.extend(h)
        lanes = [(x - 128.0) / 128.0 for x in raw[:16]]
        norm = sum(v * v for v in lanes) ** 0.5 or 1.0
        want = [v / norm for v in lanes]
        assert all(
            math.isclose(a, w, rel_tol=1e-6) for a, w in zip(got[i], want)
        ), i
        assert math.isclose(
            sum(v * v for v in got[i]) ** 0.5, 1.0, rel_tol=1e-5
        )


def test_grabber_field_tables_match_reference_including_the_pixel_swap():
    """conversions.py:336-421 — the per-type grabber field tables are
    data, and the reference's xpixels <- exif:PixelYDimension /
    ypixels <- exif:PixelXDimension cross-wiring (:366-368) is preserved
    verbatim: a well-meaning 'fix' would diverge from the values the
    reference actually serves."""
    from idb_backend_spark.functions.grabbers import (
        ELEV_FIELDS,
        FLOAT_FIELDS,
        INT_FIELDS,
    )

    assert INT_FIELDS["mediarecords"] == [
        ("version", "idigbio:version"),
        ("xpixels", "exif:PixelYDimension"),  # yes, Y feeds x
        ("ypixels", "exif:PixelXDimension"),  # and X feeds y
    ]
    assert [k for k, _ in ELEV_FIELDS["records"]] == [
        "minelevation", "maxelevation", "mindepth", "maxdepth",
    ]
    assert FLOAT_FIELDS["records"] == [
        ("individualcount", "dwc:individualCount"),
        ("coordinateuncertainty", "dwc:coordinateUncertaintyInMeters"),
    ]
    # every int/float/elev table covers all four record types or is
    # records-only exactly like the reference
    assert set(INT_FIELDS) == {
        "records", "mediarecords", "publishers", "recordsets"
    }
    assert set(ELEV_FIELDS) == {"records"}


def test_elev_vs_int_grabber_fraction_split(spark):
    """The same '23.5 m' token: elevGrabber (atof) keeps 23.5, intGrabber
    (atoi) rejects to NULL — the split the ETL entry's minelevation
    correction rides on (conversions.py:336-394)."""
    from idb_backend_spark.functions.grabbers import (
        float_grabber,
        int_grabber,
    )

    df = spark.createDataFrame([("23.5 m",), ("23 m",)], "s string")
    got = [
        (r["f"], r["i"])
        for r in df.select(
            float_grabber("s").alias("f"), int_grabber("s").alias("i")
        ).collect()
    ]
    assert got == [(23.5, None), (23.0, 23)]
