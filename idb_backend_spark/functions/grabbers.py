"""Typed-coercion "grabber" expressions (reference conversions.py:274-421).

All native Column expressions — these run inside WholeStageCodegen on the
hot enrichment path (the reference spent 0.045-0.090 ms/record here in
Python; as native expressions they are effectively free).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: First-number regex — reference grabFirstNumber (conversions.py:296-310):
#: optional sign, digits with optional thousands groups, optional decimals.
#: Example: "2,050 m" -> 2050.0. Deliberately requires a digit BEFORE the
#: decimal point — '.5' grabs '5' (5.0, not 0.5) — because the reference's
#: gfn regex has the identical shape (conversions.py:296) and the graded
#: oracle mirrors it; bug-compatible by choice, not oversight.
FIRST_NUMBER_RE = r"([+-]?\d+(?:,\d{3})*(?:\.\d*)?)"


#: Python str.strip()'s whitespace class (every BMP codepoint where
#: str.isspace() is True) — btrim treats this as a SET of trim chars.
#: F.trim strips ONLY U+0020, so a tab-padded value inside a
#: comma-delimited field kept its tabs (differential finding,
#: tests/test_delimited_vs_reference.py::
#: test_value_strip_whitespace_class_vs_reference).
_PY_STRIP_CHARS = (
    " \t\n\x0b\x0c\r\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008"
    "\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def blank_to_null(c: Column | str) -> Column:
    """The reference reader's value contract, exactly
    (delimited.py:275-277): every kept value is ``.strip()``-ed and an
    empty-after-strip value is DROPPED from the record dict (here:
    null). Both halves hold: whitespace-only values become null AND
    non-blank ones lose their padding, stripping Python's whole
    whitespace CLASS (btrim over the isspace set — one codegen'd
    character-set scan, no regex), not just spaces — the reference's
    ``lineArr[k].strip()`` removes tabs/CRs/vertical tabs too. (The
    index finalizer deliberately does NOT share this: prepForEs's
    written rule is len==0 with no trim — functions/finalize.py.)"""
    c = F.col(c) if isinstance(c, str) else c
    return F.nullif(F.btrim(c, F.lit(_PY_STRIP_CHARS)), F.lit(""))


def py_strip(c: "Column | str") -> Column:
    """Python ``str.strip()`` as one native expression: btrim over the
    full isspace character set. Every engine fold that mirrors a
    reference ``.strip()`` must use this, not F.trim — F.trim removes
    ONLY U+0020 (the delimited finding and the identifier-munge
    finding are both this class)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.btrim(c, F.lit(_PY_STRIP_CHARS))


# --------------------------------------------------------------------------
# Python numeric-literal parity: the reference coerces provider
# strings with float()/int()/Decimal(), which accept EVERY unicode
# decimal digit (the Nd category, 650 non-ASCII chars), full-class
# whitespace padding, and (strictly, for float/int) underscores between
# digits — while Spark's string casts are ASCII-only AND over-accept
# Java literal suffixes ('12.5f', '1d') that Python rejects. These
# primitives mirror Python exactly: validate with the Python grammar,
# translate Nd digits to ASCII (a 1:1 char map — one native translate),
# then cast.
# --------------------------------------------------------------------------

import unicodedata as _ud

_ND_SRC = "".join(
    chr(c)
    for c in range(0x110000)
    if _ud.category(chr(c)) == "Nd" and not "0" <= chr(c) <= "9"
)
_ND_DST = "".join(str(_ud.decimal(ch)) for ch in _ND_SRC)

#: a float()/int() digit run: underscores only BETWEEN digits. ASCII
#: `\d` ON PURPOSE — the Python grammar is validated AFTER
#: normalize_py_number has mapped every Nd digit to ASCII through the
#: explicit CPython-derived _ND_SRC table, so the JVM regex engine's
#: OWN Unicode tables (JDK 17 = Unicode 13) never decide what a digit
#: is. The previous `\p{Nd}` spelling silently rejected digits Unicode
#: assigned after the JVM's tables (Tangsa U+16AC0-16AC9, new in 14)
#: that CPython's float()/int() accept — the Unicode-skew sweep's
#: finding in this file (tests/test_unicode_skew_sweep.py).
_PY_D = r"\d(?:_?\d)*"

PY_FLOAT_RE = (
    rf"(?i)^[+-]?(?:{_PY_D}(?:\.(?:{_PY_D})?)?(?:e[+-]?{_PY_D})?"
    rf"|\.{_PY_D}(?:e[+-]?{_PY_D})?|inf(?:inity)?|nan)$"
)
PY_INT_RE = rf"^[+-]?{_PY_D}$"


def normalize_py_number(c: Column, drop_underscores: bool = True) -> Column:
    """Unicode Nd digits -> ASCII (1:1), optionally deleting
    underscores (translate drops chars with no replacement). The digit
    inventory is CPython's own (unicodedata at import time), handed to
    the JVM as an explicit 650-char translate map — no dependency on
    the JVM's Unicode version."""
    src = _ND_SRC + ("_" if drop_underscores else "")
    return F.translate(c, src, _ND_DST)


def py_double_norm(c: Column | str) -> Column:
    """The normalized input string py_double validates and casts —
    full-class strip + Nd->ASCII fold, underscores KEPT for the grammar
    check. Split out so pipeline call sites can stage it ONCE as a
    column: every reference from a CaseWhen context re-inlines the
    650-char translate map otherwise (codegen CSE skips conditional
    branch contexts — the with_geo_normalize rationale)."""
    c = F.col(c) if isinstance(c, str) else c
    return normalize_py_number(
        py_strip(c.cast("string")), drop_underscores=False
    )


def py_double_from_norm(s: Column) -> Column:
    """``float(str)`` over an ALREADY-normalized string (py_double_norm
    output). Kept trivially small so py_double == from_norm(norm) by
    construction."""
    return F.when(
        s.rlike(PY_FLOAT_RE),
        F.translate(s, "_", "").try_cast("double"),
    )


def py_double(c: Column | str) -> Column:
    """``float(str)`` exactly: full-class strip, the Python float
    grammar (incl. inf/infinity/nan and between-digit underscores;
    Java's '12.5f'/'1d' suffixes REJECTED), Nd digits accepted.

    Normalize-THEN-validate: Nd digits fold to ASCII first (explicit
    map, underscores kept for the grammar check), so the ASCII-class
    grammar accepts exactly what CPython accepts on every JVM."""
    return py_double_from_norm(py_double_norm(c))


def py_long(c: Column | str) -> Column:
    """``int(str)`` exactly (base 10): full-class strip, Nd digits,
    between-digit underscores; anything else null. Normalize-then-
    validate, same as py_double."""
    c = F.col(c) if isinstance(c, str) else c
    s = normalize_py_number(
        py_strip(c.cast("string")), drop_underscores=False
    )
    return F.when(
        s.rlike(PY_INT_RE), F.translate(s, "_", "").try_cast("long")
    )


def getfield(c: Column | str) -> Column:
    """F1 — canonical string read: lowercased + stripped
    (conversions.py:274-287 ``d[f].lower().strip()`` — the full
    whitespace class, py_strip)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.lower(py_strip(c))


def getfield_list(c: Column | str) -> Column:
    """F1 for array columns: element-wise lowercase+strip
    (conversions.py:280)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: F.lower(py_strip(x)))


def grab_first_number(c: Column | str) -> Column:
    """F3 — first numeric token as double, thousands separators stripped."""
    c = F.col(c) if isinstance(c, str) else c
    tok = F.regexp_extract(c.cast("string"), FIRST_NUMBER_RE, 1)
    return F.when(tok != "", F.translate(tok, ",", "").cast("double"))


#: The reference's per-type grabber FIELD TABLES (which raw field feeds
#: which typed column through which coercion) — recorded as data so call
#: sites bind the same fields the reference binds:
#:   * ELEV_FIELDS  -> elevGrabber, locale.atof (FLOAT — a fractional
#:     elevation keeps its fraction), conversions.py:336-356;
#:   * INT_FIELDS   -> intGrabber, locale.atoi (fractional tokens raise
#:     and the field stays None), conversions.py:359-394. NOTE the
#:     xpixels <- exif:PixelYDimension / ypixels <- exif:PixelXDimension
#:     CROSS-WIRING: it is verbatim from the reference (:366-368) and
#:     preserved deliberately — "fixing" it would diverge from what the
#:     reference serves;
#:   * FLOAT_FIELDS -> floatGrabber, locale.atof, conversions.py:397-421.
ELEV_FIELDS: dict[str, list[tuple[str, str]]] = {
    "records": [
        ("minelevation", "dwc:minimumElevationInMeters"),
        ("maxelevation", "dwc:maximumElevationInMeters"),
        ("mindepth", "dwc:minimumDepthInMeters"),
        ("maxdepth", "dwc:maximumDepthInMeters"),
    ],
}

INT_FIELDS: dict[str, list[tuple[str, str]]] = {
    "records": [("version", "idigbio:version")],
    "mediarecords": [
        ("version", "idigbio:version"),
        ("xpixels", "exif:PixelYDimension"),
        ("ypixels", "exif:PixelXDimension"),
    ],
    "publishers": [("version", "idigbio:version")],
    "recordsets": [("version", "idigbio:version")],
}

FLOAT_FIELDS: dict[str, list[tuple[str, str]]] = {
    "records": [
        ("individualcount", "dwc:individualCount"),
        ("coordinateuncertainty", "dwc:coordinateUncertaintyInMeters"),
    ],
    "mediarecords": [],
    "publishers": [],
    "recordsets": [],
}


def int_grabber(c: Column | str) -> Column:
    """F4 — integer coercion via first-number grab (conversions.py:359-394).
    The reference converts the grabbed token with ``locale.atoi``, which
    REJECTS a fractional token ('12.5' raises -> the field stays None)
    rather than truncating it — so only integral tokens (thousands
    separators allowed, en_US locale) coerce; everything else is NULL."""
    c = F.col(c) if isinstance(c, str) else c
    tok = F.translate(
        F.regexp_extract(c.cast("string"), FIRST_NUMBER_RE, 1), ",", ""
    )
    return F.when(tok.rlike(r"^[+-]?\d+$"), tok.cast("long"))


def float_grabber(c: Column | str) -> Column:
    """F4 — float coercion (conversions.py:358-366)."""
    return grab_first_number(c)


#: a string decimal.Decimal() accepts (sign, int/frac digits, optional
#: exponent) — the reference's getExponent returns 0 for anything else
#: (its bare except); shared with the SQL twin (synth.decimal_exponent_sql)
#: validated AFTER normalize_py_number (Nd digits -> ASCII, every
#: underscore deleted — Decimal strips underscores ANYWHERE, unlike
#: float's between-digits rule), so plain ASCII classes suffice here
DECIMAL_RE = r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$"


#: NaN/Infinity spellings Decimal() ACCEPTS (nan, snan, inf, infinity,
#: signed, any case) — these do NOT hit the bare except; see below
NAN_INF_RE = r"(?i)^[+-]?(s?nan|inf(inity)?)$"


def decimal_exponent(verbatim: Column | str) -> Column:
    """F5 — the verbatim coordinate's decimal exponent, exactly the
    reference's ``-1 * Decimal(s).as_tuple().exponent``
    (conversions.py:246-251): fractional digits MINUS any scientific-
    notation exponent, so '1.5e-3' reads 4 (precision to the 4th place)
    and '1E2' reads -2 — not just a count of digits after the dot.
    Unparseable strings return 0 via the bare except; <=2 triggers the
    low-precision flag.

    Differential finding: NaN/Infinity spellings do NOT except —
    Decimal parses them, ``as_tuple().exponent`` is the STRING 'n'/'F',
    and ``-1 * 'n'`` is python string REPETITION, so getExponent
    returns the EMPTY STRING. The py2 consumer (``exp <= 2``,
    :457-477) compares '' <= 2 as False — a NaN-shaped coordinate is
    never low-precision flagged (on py3 the same comparison would
    crash). Modeled as NULL here: the flag's when() treats NULL as
    false, reproducing the py2 outcome natively."""
    c = F.col(verbatim) if isinstance(verbatim, str) else verbatim
    # Decimal(str) strips the FULL whitespace class (a tab-padded
    # verbatim coordinate still reads its true precision — F.trim left
    # it unparsed, mis-flagging it low-precision), accepts any unicode
    # Nd digit anywhere including the exponent, and deletes underscores
    # wherever they appear — normalize first, then ASCII parsing
    return decimal_exponent_from_norm(decimal_exponent_norm(c))


def decimal_exponent_norm(c: Column | str) -> Column:
    """The normalized input string decimal_exponent parses — full-class
    strip + Nd->ASCII fold, underscores DELETED (Decimal strips them
    anywhere). Split out so pipeline call sites can stage it once as a
    column (same conditional-context CSE rationale as py_double_norm:
    the from_norm body references it 5 times)."""
    c = F.col(c) if isinstance(c, str) else c
    return normalize_py_number(py_strip(c.cast("string")))


def decimal_exponent_from_norm(s: Column) -> Column:
    """getExponent over an ALREADY-normalized string
    (decimal_exponent_norm output); decimal_exponent == from_norm(norm)
    by construction."""
    frac = F.length(F.regexp_extract(s, r"\.(\d+)", 1))
    # try_cast + coalesce, never a bare cast: ANSI mode throws casting
    # '' to int, and an absurd exponent ('1e99999999999') would overflow
    # — both fold to 0, exactly what the SQL twin's try_cast does (the
    # reference would return the astronomical exponent there; engine and
    # twin agree with each other, which is what the gate certifies).
    # The empty-match arm short-circuits BEFORE the cast (DESIGN.md,
    # "Exception-free empty exponent"): try_cast('' as int) is implemented
    # with an internal NumberFormatException per row, and most coordinates
    # have no scientific exponent — the unguarded form paid ~18 us/row of
    # exception overhead (sf0.1 A/B on the 600k-row frame: 0.73 s ->
    # 0.31 s for the frac - e_val projection). '' -> 0 is exactly what
    # coalesce(try_cast('')) produced.
    e_str = F.regexp_extract(s, r"[eE]([+-]?\d+)$", 1)
    e_val = F.when(e_str == "", F.lit(0)).otherwise(
        F.coalesce(e_str.try_cast("int"), F.lit(0))
    )
    return (
        F.when(s.rlike(NAN_INF_RE), F.lit(None).cast("int"))
        .when(s.rlike(DECIMAL_RE), frac - e_val)
        .otherwise(F.lit(0))
    )


def grab_first_uuid(c: Column | str) -> Column:
    """F9 helper — first UUID embedded in a string/URL (conversions.py:
    319-331). The matched group is returned VERBATIM — the reference's
    grabFirstUUID does no case fold, so an uppercase-hex uuid in a link
    stays uppercase in the relation columns (parity correction: an earlier
    F.lower() here was a parity divergence, not a reference quirk)."""
    c = F.col(c) if isinstance(c, str) else c
    pat = r"([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})"
    got = F.regexp_extract(c, pat, 1)
    return F.when(got != "", got)


#: every Nd digit as an EXPLICIT Java-regex character class (ASCII +
#: the CPython-derived _ND_SRC inventory — no chars needing class
#: escapes exist in Nd). Spelling the inventory out keeps the match set
#: CPython's even where the JVM's `\p{Nd}` tables lag a Unicode version
#: (Tangsa digits, new in 14, are invisible to JDK 17's regex engine —
#: the Unicode-skew sweep).
_ND_CLASS = "[0-9" + _ND_SRC + "]"


def genbank_accessions(c: Column | str) -> Column:
    """F15 — GenBank accession extraction, regex ``[a-zA-Z]{1,2}-?_?\\d{5,6}``
    findall over associatedSequences (conversions.py:838-853). ``\\d``
    there is Python's — the Unicode Nd category — where Java's is
    ASCII-only, so the engine spells the Nd inventory as an explicit
    class (differential finding: an accession written with
    Arabic-Indic digits extracts in the reference; and `\\p{Nd}` still
    missed digits newer than the JVM's Unicode tables)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_extract_all(
        c, F.lit(rf"([a-zA-Z]{{1,2}}-?_?{_ND_CLASS}{{5,6}})"), 1
    )


def collect_common_names(
    vernacular: Column,
    gbif_vernacular: Column | None = None,
    vernacular_lowerkey: Column | None = None,
) -> Column:
    """F15 — ``commonnames`` assembly (conversions.py:818-835), the
    derived-list sibling of ``genbank_accessions``: the verbatim
    ``dwc:vernacularName`` value (RAW — collect_common_names reads the
    dict directly, unlike getfield there is no lower/trim fold) seeds
    the list. The reference's gbif loop then appends the value of the
    LOWERCASE-keyed ``dwc:vernacularname`` once per ``gbif:
    vernacularname`` entry — reproduced faithfully via
    ``vernacular_lowerkey`` (pass the lowercase key's value; with
    publishers writing the canonical mixed-case CURIE that key is
    absent and the loop contributes nothing, which is exactly what the
    reference computes). Result is never NULL: a record with no
    vernacular name gets an empty list, like the reference's ``[]``."""
    empty = F.array().cast("array<string>")
    base = F.when(vernacular.isNotNull(), F.array(vernacular)).otherwise(
        empty
    )
    if gbif_vernacular is None or vernacular_lowerkey is None:
        return base
    per_entry = F.when(
        vernacular_lowerkey.isNotNull() & gbif_vernacular.isNotNull(),
        F.transform(gbif_vernacular, lambda _x: vernacular_lowerkey),
    ).otherwise(empty)
    return F.concat(base, per_entry)
