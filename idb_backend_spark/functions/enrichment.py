"""Row-level enrichment library — the ETL parity core (SURVEY §2.8).

Re-expresses the reference's enrichment pipeline (idb/helpers/
conversions.py `grabAll`, :932-964) as native Column expressions wherever
the semantics allow, so the hot path stays inside WholeStageCodegen. Only
the permissive date parse (F8) needs Python (dateutil) and is an
Arrow-batched pandas UDF.

The reference spends ~1.33 ms/record in single-core Python here
(conversions.py:915-930); the native-expression formulation is dominated
by scan cost instead.

Flag discipline (F17, conversions.py:955-962): every normalizer returns
its value column plus zero or more ``flags.FlagSpec`` flags built with
``flags.flag_when``; callers fold them with ``flags.fold_flags``, or
render one as a string column with ``flags.flag_column``.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F

from idb_backend_spark.functions.flags import FlagSpec, flag_column, flag_when
from idb_backend_spark.functions.grabbers import getfield

# --------------------------------------------------------------------------
# F6 — geoGrabber: lat/lon parse, auto-flip, bounds check, precision flag
# (reference conversions.py:446-564). The CRS datum transform and the
# reverse-geocode flip search live in geo.py; the coordinate
# normalization below is the pure-expression part.
# --------------------------------------------------------------------------


def with_geo_normalize(df, lat_raw: Column, lon_raw: Column):
    """F6 coordinate normalization with the reference's flag semantics:

    * auto-flip when lat is out of ±90 but plausible as a lon while the
      stated lon fits ±90 (flag ``geopoint_pre_flip``, conversions.py:460-465)
    * bounds check after the flip → null point + ``geopoint_bounds`` flag
      (conversions.py:467-475)
    * ``geopoint_low_precision`` when either verbatim coordinate has ≤2
      decimal places (conversions.py:457-477 via getExponent, :246-251)

    The parse is py_double, not a bare try_cast: the reference's float()
    call (conversions.py:454-455) accepts unicode Nd digits and rejects
    Java literal suffixes, where Spark's cast does the opposite on both
    counts; unparseable still yields a null point, no exception (the
    bare-except contract, conversions.py:478-480).

    Staged, like geo.with_molodensky_shift: the NORMALIZED input strings
    (full-class strip + 650-char Nd->ASCII translate) land first as their
    own columns, then the py_double parses and decimal exponents, and
    the flip/bounds/precision branches run over those cheap double/int
    column reads. Every parse is referenced 4-8 times from CaseWhen
    contexts, which codegen subexpression elimination cannot share, so
    an inline form re-inlines the whole parse chain at each reference
    (DESIGN.md, "Coordinate parse staged once"). CollapseProject keeps
    the stage boundaries
    because the staged columns are referenced more than once by non-cheap
    consumers.

    Adds ``__geo_lat``, ``__geo_lon`` and the staged string flag columns
    ``__flag_pre_flip``, ``__flag_bounds``, ``__flag_low_precision``; the
    parse temporaries are dropped.
    """
    from idb_backend_spark.functions.grabbers import (
        decimal_exponent_from_norm,
        decimal_exponent_norm,
        py_double_from_norm,
        py_double_norm,
    )

    tmp = df.withColumns(
        {
            "__geo_n_lat": py_double_norm(getfield(lat_raw)),
            "__geo_n_lon": py_double_norm(getfield(lon_raw)),
            "__geo_d_lat": decimal_exponent_norm(lat_raw),
            "__geo_d_lon": decimal_exponent_norm(lon_raw),
        }
    ).withColumns(
        {
            "__geo_p_lat0": py_double_from_norm(F.col("__geo_n_lat")),
            "__geo_p_lon0": py_double_from_norm(F.col("__geo_n_lon")),
            "__geo_p_explat": decimal_exponent_from_norm(F.col("__geo_d_lat")),
            "__geo_p_explon": decimal_exponent_from_norm(F.col("__geo_d_lon")),
        }
    )
    lat0, lon0 = F.col("__geo_p_lat0"), F.col("__geo_p_lon0")
    have = lat0.isNotNull() & lon0.isNotNull()
    flip = (
        have
        & (((lat0 >= -180) & (lat0 < -90)) | ((lat0 > 90) & (lat0 <= 180)))
        & (lon0 >= -90)
        & (lon0 <= 90)
    )
    lat1 = F.when(flip, lon0).otherwise(lat0)
    lon1 = F.when(flip, lat0).otherwise(lon0)
    oob = have & (
        (lat1 < -90) | (lat1 > 90) | (lon1 < -180) | (lon1 > 180)
    )
    ok = have & ~oob
    low_prec = ok & (
        (F.col("__geo_p_explat") <= 2) | (F.col("__geo_p_explon") <= 2)
    )
    return tmp.withColumns(
        {
            "__geo_lat": F.when(ok, lat1),
            "__geo_lon": F.when(ok, lon1),
            "__flag_pre_flip": flag_column(
                flag_when("geopoint_pre_flip", flip & ~oob)
            ),
            "__flag_bounds": flag_column(flag_when("geopoint_bounds", oob)),
            "__flag_low_precision": flag_column(
                flag_when("geopoint_low_precision", low_prec)
            ),
        }
    ).drop(
        "__geo_n_lat", "__geo_n_lon", "__geo_d_lat", "__geo_d_lon",
        "__geo_p_lat0", "__geo_p_lon0", "__geo_p_explat", "__geo_p_explon",
    )


# --------------------------------------------------------------------------
# F8 — date handling. The permissive free-text parse is a pandas UDF
# (date_parse_udf in dates.py); the structured year/month/day fallback
# assembly (conversions.py:604-624) and startdayofyear derivation (:626-627)
# are native.
# --------------------------------------------------------------------------


def date_fallback(
    eventdate: Column, year: Column, month: Column, day: Column,
    startdayofyear: Column | None = None,
) -> Column:
    """Assemble datecollected from parts when the eventDate parse failed,
    with EXACTLY the reference's branch nesting (conversions.py:604-624):

        month present:  day -> y-m-d; else startDayOfYear -> Jan 1 +
                        (n-1) days; else first of month
        month missing:  Jan 1 (startDayOfYear is IGNORED without a
                        month — the reference's else-arm parses the bare
                        year and never looks at it)

    The chain dispatches on part PRESENCE (the raw strings), not parse
    success — an invalid part (year=2000, month=2, day=31; or a
    fractional startDayOfYear, which locale.atoi rejects) yields NULL
    rather than cascading to a later arm, because the reference wraps
    the whole assembly in one try/except. All coercions are try_cast /
    try_to_date: a garbage part must yield NULL, never an ANSI runtime
    error that kills the query (ASCII-numeric parts only — dateutil's
    month-NAME leniency is a documented non-goal of the native path).

    Documented modeling choice: the reference's sdoy arm calls
    ``datetime.datetime(year, 1, 1)`` with getfield's value VERBATIM —
    it only succeeds when the provider's JSON typed ``dwc:year`` as a
    NUMBER (getfield passes non-strings through, conversions.py:282-285;
    a string year raises TypeError into the blanket except and the
    fallback yields None). This engine's raw map is string-typed, so
    the arm is modeled on the numeric-year (working) case — the same
    class of declared boundary as the month-name non-goal above."""
    y = year.try_cast("int")
    m = month.try_cast("int")
    d = day.try_cast("int")
    s_raw = startdayofyear if startdayofyear is not None else F.lit(None)
    sdoy = s_raw.try_cast("int")

    def mkdate(yy: Column, mm: Column, dd: Column) -> Column:
        # try_to_date: null on invalid parts even under ANSI mode; a
        # try_cast-nulled part drops out of concat_ws and the malformed
        # string fails the pattern -> NULL, the reference's abort
        return F.try_to_date(
            F.concat_ws(
                "-", yy.cast("string"), mm.cast("string"), dd.cast("string")
            ),
            "y-M-d",
        )

    jan1 = mkdate(y, F.lit(1), F.lit(1))
    from_parts = F.when(
        month.isNotNull(),
        F.when(day.isNotNull(), mkdate(y, m, d))
        .when(s_raw.isNotNull(), F.date_add(jan1, sdoy - 1))
        .otherwise(mkdate(y, m, F.lit(1))),
    ).otherwise(jan1)
    return F.coalesce(eventdate, F.when(year.isNotNull(), from_parts))


def date_bounds_flag(
    d: Column, lower: str = "1500-01-02", name: str = "datecollected_bounds"
) -> FlagSpec:
    """checkBounds (conversions.py:227-243): flag dates outside
    [1500-01-02, now]."""
    return flag_when(
        name,
        d.isNotNull() & ((d < F.lit(lower).cast("date")) | (d > F.current_date())),
    )


# --------------------------------------------------------------------------
# F10 — license canonicalization + majority vote (conversions.py:683-708;
# tables idb/data_tables/rights_strings.py). The FULL verbatim→tag table
# (103 rows) lives in data/licenses.py; it compiles to a broadcast-size
# literal map.
# --------------------------------------------------------------------------

from idb_backend_spark.data.licenses import (  # noqa: E402
    LICENSE_TRANS,
    LICENSES,
    MANUAL_ASSIGNMENT,
    RIGHTS_ORDER,
    RIGHTS_STRINGS,
    VERSION_STRINGS,
)

#: Rights fields scanned in order (conversions.py:686-695).
LICENSE_FIELDS = [
    "dcterms:rights", "dc:rights", "xmpRights:UsageTerms",
    "xmpRights:WebStatement", "dcterms:license",
]


def license_lookup(c: Column) -> Column:
    """Map a rights string through the canonical-license table (broadcast-
    size literal map; unknown → null)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in LICENSE_TRANS.items() for x in kv]
    )
    return mapping[c]


_RIGHTS_RE = re.compile(
    r"((?:by(?:.?nc)?(?:.?sa)?(?:.?nd)?)|cc0|zero|(?:public.?domain))"
    r".?(\d\.\d)?",
    re.I,
)
_ALNUM_ONLY = re.compile("[^0-9a-zA-Z]+")


def pick_license(s: str) -> str | None:
    """Free-text rights blob → license tag (rights_strings.py:223-252):
    scan every rights-shaped fragment and keep the LAST one in the
    restrictiveness order (manual pins win outright). Driver-side helper
    for rules/table maintenance; the distributed path is the
    `license_lookup` map over the verbatim table."""
    if s in MANUAL_ASSIGNMENT:
        return MANUAL_ASSIGNMENT[s]
    picked, best = None, -1
    for frag, ver in _RIGHTS_RE.findall(s):
        kind = _ALNUM_ONLY.sub("", frag).upper()
        if kind not in RIGHTS_ORDER or RIGHTS_ORDER.index(kind) <= best:
            continue
        # best advances ONLY when a pick actually lands — the reference's
        # unknown-version fragment raises KeyError before its `order`
        # assignment, leaving later equally-ranked fragments with valid
        # versions eligible ('by-nc 2.0' must not block 'by-nc 4.0').
        # A 1.0 version maps to '' so the tag comes out ' BY' exactly as
        # the reference emits it (version_strings['1.0'] = '') — tag
        # consumers must treat it like the reference's licenses[] miss.
        if kind in ("CC0", "ZERO", "PUBLICDOMAIN"):
            picked = RIGHTS_STRINGS[kind]
            best = RIGHTS_ORDER.index(kind)
        elif ver in VERSION_STRINGS:
            picked = VERSION_STRINGS[ver] + " " + RIGHTS_STRINGS[kind]
            best = RIGHTS_ORDER.index(kind)
    return picked


def license_attributes(tag: str) -> dict[str, str]:
    """Tag → (rights, licenselogourl, webstatement) attribute dict
    (rights_strings.py get_rights_attributes)."""
    return LICENSES[tag]


# --------------------------------------------------------------------------
# F11 — media URL precedence + media type (conversions.py:711-738)
# --------------------------------------------------------------------------

#: EXACTLY the reference's default_buckets + mime_aliases
#: (idb/helpers/media_validation.py:18-29): only mimes the reference can
#: route to a storage bucket map; everything else — including common
#: image mimes like png — yields mediatype None there, and the bucket
#: for video is the reference's SINGULAR 'video'. A wider invented
#: table here would bucket media the reference refuses.
_FORMAT_BUCKETS = {
    "image/jpeg": "images",
    "image/jp2": "images",
    "audio/mpeg": "sounds",
    "video/mpeg": "video",
    "video/mp4": "video",
    "model/mesh": "models",
}

_MIME_ALIASES = {"audio/mpeg3": "audio/mpeg"}


def py_capitalize(c: Column) -> Column:
    """Python ``str.capitalize()`` as a native expression — first char
    uppercased, the REST lowercased (the scientificname fold the
    uniquevals exports apply before counting, download.py:189-190).
    ASCII-identical to Python; on exotic digraph codepoints Python
    TITLEcases the first char where upper() differs ('ß' -> 'Ss' vs
    'SS') — documented residue, machine-pinned in
    tests/test_sources_export.py."""
    return F.concat(
        F.upper(F.substring(c, 1, 1)),
        F.lower(c.substr(F.lit(2), F.length(c))),
    )


def fold_scientificname(c: Column, field_name: str) -> Column:
    """THE scientificname fold gate — trigger rule AND fold in one
    place (download.py:188-190: ``if val_field.lower().endswith(
    "scientificname"): v = v.capitalize()``), shared by
    operators/aggregates.unique_values and export/writers.
    uniquevals_frame so neither the fold nor the WHICH-columns trigger
    can drift between the graded A3 kernel and the export path.
    Identifier backticks strip first so quoted columns like
    `dwc:scientificName` still hit the endswith check."""
    if field_name.strip("`").lower().endswith("scientificname"):
        return py_capitalize(c)
    return c


def first_nonempty(*cols: Column) -> Column:
    """Python ``or``-chain semantics over string columns — the
    reference's ``d.get(a) or d.get(b) or d.get(c)`` idiom
    (conversions.py:711-713, :727): every alternative but the LAST is
    skipped when NULL **or empty string** ('' is falsy in Python, where
    a plain coalesce would keep it), and the last alternative is taken
    verbatim — an all-skipped chain resolves to whatever it holds
    ('' stays '', NULL stays NULL)."""
    if len(cols) == 1:
        return cols[0]
    return F.coalesce(
        *[F.nullif(c, F.lit("")) for c in cols[:-1]], cols[-1]
    )


def access_uri(
    accessuri: Column, best_quality: Column, dcterms_id: Column, dc_id: Column,
    has_ac_keys: Column,
) -> Column:
    """accessuri precedence: ac:accessURI > ac:bestQualityAccessURI >
    (identifiers, only when NO ac: key is present) — conversions.py:
    711-723. The reference's ``or`` chains treat EMPTY STRING as absent
    at every non-final alternative (Python falsy), so '' in
    ac:accessURI falls through to bestQuality — BUT a
    chain that RESOLVES to '' (bestQuality == '') blocks the identifier
    fallback, because the fallback gate is ``url is None``, not
    falsiness. first_nonempty + one coalesce reproduce both edges."""
    ident = F.when(
        ~has_ac_keys, first_nonempty(dcterms_id, dc_id)
    )
    return F.coalesce(F.nullif(accessuri, F.lit("")), best_quality, ident)


def media_type(format_col: Column) -> tuple[Column, Column]:
    """(format, mediatype): normalized format string and its storage bucket
    (conversions.py:725-738 -> media_validation.get_default_bucket:32-34):
    lower/trim, resolve mime aliases (audio/mpeg3 -> audio/mpeg), look up
    default_buckets. The returned ``format`` is the normalized ORIGINAL
    (aliases apply only to the bucket lookup, like the reference). An
    unrecognized format buckets to NULL — spelled try_element_at to make
    the missing-key->NULL contract explicit (provider formats are
    open-world)."""
    from idb_backend_spark.functions.grabbers import py_strip

    # conversions.py:730 form.strip().lower() — full whitespace class
    fmt = F.lower(py_strip(format_col))
    alias_map = F.create_map(
        *[F.lit(x) for kv in _MIME_ALIASES.items() for x in kv]
    )
    aliased = F.coalesce(F.try_element_at(alias_map, fmt), fmt)
    mapping = F.create_map(
        *[F.lit(x) for kv in _FORMAT_BUCKETS.items() for x in kv]
    )
    return fmt, F.try_element_at(mapping, aliased)


# --------------------------------------------------------------------------
# F13 — basisOfRecord → controlled vocabulary (conversions.py:856-893).
# Substring rules in reference order; invalid → null + flags.
# --------------------------------------------------------------------------

#: (needle-or-needles, canonical value) in the reference's EXACT elif
#: order (conversions.py:871-887): the machine+observation compound sits
#: between "specimen" and "observation" — NOT first. Order is
#: observable: "machine observation of a preserved specimen" hits
#: "preserved" before the compound and reads preservedspecimen.
BOR_RULES: list[tuple[tuple[str, ...], str]] = [
    (("preserved",), "preservedspecimen"),
    (("fossil",), "fossilspecimen"),
    (("living",), "livingspecimen"),
    (("material",), "materialsample"),
    (("specimen",), "preservedspecimen"),
    (("machine", "observation"), "machineobservation"),
    (("observation",), "humanobservation"),
    (("occurrence",), "occurrence"),
]


def fix_basis_of_record(bor: Column) -> dict[str, Column | FlagSpec]:
    """Returns {"value", "flag_removed", "flag_invalid"} with the
    reference's rule order, including the machine+observation special
    case; the flags come from ``bor_flags`` over this ``value``. The
    reference's ``filled()`` is ``k in d and d[k] is not None``
    (conversions.py:741-742): an EMPTY STRING counts as present, matches
    no rule, and is flagged removed+invalid with the value nulled."""
    v = getfield(bor)
    filled = v.isNotNull()
    matched = None  # no rule matched: NULL
    for needles, out in BOR_RULES:
        cond = v.contains(needles[0])
        for n in needles[1:]:
            cond = cond & v.contains(n)
        matched = (
            F.when(cond, F.lit(out)) if matched is None
            else matched.when(cond, F.lit(out))
        )
    value = F.when(filled, matched)
    return {"value": value, **bor_flags(filled, value)}


def bor_flags(filled: Column, value: Column) -> dict[str, FlagSpec]:
    """F13 flags from the normalized ``value`` and the input's
    ``filled``: the one definition, used by fix_basis_of_record on its
    own value and by call sites that stage ``value`` as a column anyway
    (etl), so the flag conditions read the cheap staged column instead
    of re-evaluating the contains-rule chain once per flag.

    Equal to the reference's conditions (conversions.py:856-893; with
    ``value = when(filled, matched)``): ``removed`` is
    ``filled & matched.isNull()`` — when filled, value == matched, so
    ``filled & value.isNull()`` is identical; when not filled both are
    false. ``invalid = removed | ~filled``."""
    removed = filled & value.isNull()
    return {
        "flag_removed": flag_when("dwc_basisofrecord_removed", removed),
        "flag_invalid": flag_when(
            "dwc_basisofrecord_invalid", removed | ~filled
        ),
    }


def taxon_rank_flags(v: Column, value: Column) -> dict[str, FlagSpec]:
    """F14 flags from ``v`` the folded input (``getfield(rank)``) and
    ``value`` the normalized rank: the one definition, used by
    fix_taxon_rank on its own value and by call sites that stage both as
    columns (etl), so the flag conditions do not re-probe the
    313-literal mapping once per flag.

    Equal to the reference's conditions (conversions.py:895-913; with
    ``value = when(filled & in_mapping, mapped)
    .when(filled & acceptable, v)``, ``filled = v.isNotNull()``):

    * ``replaced`` is ``filled & in_mapping & mapped.isNotNull() &
      (mapped != v)`` — when filled & in_mapping, value == mapped, so
      ``(value != v)`` is false/null exactly where those conjuncts are
      (a NULL mapped makes the comparison NULL, which the flag's
      ``when`` treats as false, like the isNotNull guard).
    * ``removed`` fires on (in_mapping & mapped.isNull()) |
      (~in_mapping & ~acceptable) — exactly the filled rows whose
      ``value`` is NULL (the two no-arm cases); the remaining filled
      cases (mapped non-null; acceptable passthrough of a non-null v)
      leave value non-null. So ``filled & value.isNull()``.
    * ``invalid`` has the same condition as ``removed``."""
    filled = v.isNotNull()
    in_mapping = v.isin(list(TAXON_RANK_MAPPING.keys()))
    replaced = filled & in_mapping & (value != v)
    removed = filled & value.isNull()
    return {
        "flag_replaced": flag_when("dwc_taxonrank_replaced", replaced),
        "flag_removed": flag_when("dwc_taxonrank_removed", removed),
        "flag_invalid": flag_when("dwc_taxonrank_invalid", removed),
    }


# --------------------------------------------------------------------------
# F14 — taxonrank normalization (conversions.py:895-913). The FULL
# vocabulary (313 mapping rows incl. multilingual spellings, 38 GBIF
# acceptable ranks) lives in data/taxon_ranks.py.
# --------------------------------------------------------------------------

from idb_backend_spark.data.taxon_ranks import (  # noqa: E402
    ACCEPTABLE as TAXON_RANK_ACCEPTABLE,
    MAPPING as TAXON_RANK_MAPPING,
)


def fix_taxon_rank(rank: Column) -> dict[str, Column | FlagSpec]:
    """Returns {"value", "flag_replaced", "flag_removed", "flag_invalid"}
    (conversions.py:895-913): mapped → replacement (flag when different;
    None mapping removes); unmapped and not acceptable → removed. The
    flags come from ``taxon_rank_flags`` over this ``value``.
    ``filled()`` counts an EMPTY STRING as present
    (conversions.py:741-742), so '' lands in the removed+invalid arm like
    any unknown rank."""
    v = getfield(rank)
    filled = v.isNotNull()
    map_pairs = [
        x
        for k, tgt in TAXON_RANK_MAPPING.items()
        for x in (F.lit(k), F.lit(tgt))
    ]
    mapped = F.create_map(*map_pairs)[v]
    in_mapping = v.isin(list(TAXON_RANK_MAPPING.keys()))
    acceptable = v.isin(list(TAXON_RANK_ACCEPTABLE))
    value = F.when(
        filled & in_mapping, mapped
    ).when(filled & acceptable, v)
    return {"value": value, **taxon_rank_flags(v, value)}


# --------------------------------------------------------------------------
# F12 — genus/specificepithet ↔ scientificname crossfill
# (conversions.py:745-768). The assembly direction is native; the parse
# direction (scientificname → genus/species) needs a name parser and is in
# names.py as a heuristic expression (the reference calls an external
# service — a non-public dependency we replace with binomial heuristics).
# --------------------------------------------------------------------------


def scientificname_fill(
    scientificname: Column, genus: Column, epithet: Column
) -> dict[str, Column | FlagSpec]:
    """genus [+ specificepithet] → scientificname when missing
    (conversions.py:758-768); flag scientificname_added."""
    assembled = F.when(
        genus.isNotNull(),
        F.concat_ws(" ", genus, epithet),
    )
    fill = scientificname.isNull() & genus.isNotNull()
    return {
        "value": F.coalesce(scientificname, assembled),
        "flag_added": flag_when("scientificname_added", fill),
    }


def genus_species_parse(scientificname: Column) -> dict[str, Column]:
    """Heuristic binomial split: first token → genus (when capitalized-word
    shaped), second lowercase token → specificepithet. Replaces the
    reference's external name-parser service (conversions.py:745-752)."""
    sn = F.trim(scientificname)
    toks = F.split(sn, r"\s+")
    # try_element_at: null (not an error) past the end under ANSI mode
    first = F.try_element_at(toks, F.lit(1))
    second = F.try_element_at(toks, F.lit(2))
    genus = F.when(first.rlike(r"^[A-Za-z][a-z-]+$"), F.lower(first))
    species = F.when(
        genus.isNotNull() & second.rlike(r"^[a-z-]+$"), F.lower(second)
    )
    return {"genus": genus, "specificepithet": species}


# --------------------------------------------------------------------------
# F22 — strip NULs / identifier munging (db_check.py:44-45, :60-61, :170-179)
# --------------------------------------------------------------------------


def strip_nuls(c: Column) -> Column:
    return F.regexp_replace(c, "\x00", "")


def munge_identifier(c: Column) -> Column:
    """BOM strip + trim + lowercase (db_check.py:60-61).

    The trim is Python str.strip()'s FULL whitespace class, not just
    spaces — mungeid receives raw DwC-A values (the archive reader does
    not pre-strip, unlike the delimited CSV path), so a tab- or
    CR-padded identifier must still fold to its bare form (pinned by
    test_reference_differential_etl::test_identify_record_vs_reference)."""
    from idb_backend_spark.functions.grabbers import _PY_STRIP_CHARS

    return F.lower(
        F.btrim(F.regexp_replace(c, "﻿", ""), F.lit(_PY_STRIP_CHARS))
    )


# --------------------------------------------------------------------------
# A4 — deterministic surrogate ids (idigbio_workers/lib/identification.py:6-21
# uses uuid5 over a namespace + value string).
# --------------------------------------------------------------------------

IDIGBIO_NAMESPACE = uuid.UUID("fb4e501e-cbf4-477d-8b5c-bd9e66c57d48")


def uuid5_expr(name: Column, namespace: uuid.UUID = IDIGBIO_NAMESPACE) -> Column:
    """RFC-4122 v5 UUID as a *native* expression: sha1(namespace_bytes ||
    utf8(name)), then version/variant nibble surgery on the hex string.
    Matches Python's uuid.uuid5 byte-for-byte."""
    h = F.sha1(F.concat(F.lit(namespace.bytes), name.cast("binary")))
    variant_nibble = F.lower(
        F.conv(
            (
                F.conv(F.substring(h, 17, 1), 16, 10).cast("int") % 4 + 8
            ).cast("string"),
            10,
            16,
        )
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant_nibble, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def stable_id_md5(name: Column, namespace: str = "idigbio") -> Column:
    """md5-based stable surrogate id (uuid-shaped) — the cross-engine-
    portable alternative (SURVEY A4): md5 is available in every engine the
    oracle might run on, sha1 is not."""
    h = F.md5(F.concat(F.lit(namespace + ":"), name))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
