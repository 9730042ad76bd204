"""F9/F16/F20/F23/P14 — the remaining enrichment tail: relations
extraction, WKT geoshape parsing, identifier extraction precedence, and
index-document finalization.

All native expressions (regex + struct building); shapely-backed WKT
containment would slot into the geo UDF kernel, but POINT/simple-POLYGON
parsing is regex-expressible and covers the reference's actual usage
(conversions.py:771-816 — the geoshape path is disabled in production).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idb_backend_spark.functions.grabbers import grab_first_uuid

# --------------------------------------------------------------------------
# F9 — relationsGrabber (conversions.py:632-680): extract linked uuids from
# idigbio:links-style URL lists; derive hasImage/hasMedia/hasSpecimen (P14).
# --------------------------------------------------------------------------


def related_uuids(links: Column) -> Column:
    """array of first-UUIDs from an array of link URLs (grabFirstUUID,
    conversions.py:319-331), nulls dropped."""
    return F.array_compact(F.transform(links, lambda u: grab_first_uuid(u)))


#: the reference's per-type relation column table (conversions.py:633-648):
#: (outname, link key, reftype) — text takes the FIRST element, list the
#: whole array.
RELATION_TABLE: dict[str, list[tuple[str, str, str]]] = {
    "records": [
        ("recordset", "recordset", "text"),
        ("mediarecords", "mediarecord", "list"),
    ],
    "mediarecords": [
        ("recordset", "recordset", "text"),
        ("records", "record", "list"),
    ],
    "publishers": [("recordsets", "recordset", "list")],
    "recordsets": [("publisher", "publisher", "text")],
}

#: idigbio:parent lands in the SINGULAR parent column — the reference
#: spells it "".join(PARENT_MAP[t])[:-1] over plural names
#: (conversions.py:26-30, :670-672); the singulars are stored directly.
PARENT_COLUMN: dict[str, str] = {
    "records": "recordset",
    "mediarecords": "recordset",
    "recordsets": "publisher",
}


def relations_grabber(
    record_type: str,
    links: Column,
    siblings: Column,
    parent: Column,
) -> dict[str, Column]:
    """F9 — the FULL relationsGrabber assembly (conversions.py:632-672),
    quirks preserved:

    * ``idigbio:links`` takes COMPLETE precedence over siblings (the
      reference's elif): when the links map is present, a relation key
      missing from it yields NULL — the siblings map is never consulted,
      even if it has the key.
    * Under links, a text column is grabFirstUUID(first link) — NULL
      when the first link embeds no uuid — and a list column drops
      non-uuid links; under siblings both are taken VERBATIM (no uuid
      extraction, no fold).
    * ``idigbio:parent`` overwrites the type's singular parent column
      LAST, regardless of which branch filled it (map-column semantics:
      a non-NULL parent is "key present").

    ``links``/``siblings`` are map<string, array<string>> columns (NULL
    map = key absent); returns {outname: Column} for the type's
    RELATION_TABLE rows.

    Differential finding: an EMPTY array under a TEXT relation key
    raises IndexError in the reference (``...[f[1]][0]`` on [],
    :654/:664 — uncaught, it kills the whole indexing run for one
    malformed record). The engine yields NULL instead
    (try_element_at) — the per-row fault-isolation discipline
    (SURVEY §7.7 #8); pinned as a documented divergence in
    tests/test_reference_differential_etl.py.
    """
    out: dict[str, Column] = {}
    has_links = links.isNotNull()
    has_sibs = siblings.isNotNull()
    for outname, key, reftype in RELATION_TABLE[record_type]:
        l_arr = F.try_element_at(links, F.lit(key))
        s_arr = F.try_element_at(siblings, F.lit(key))
        if reftype == "text":
            from_links = F.when(
                l_arr.isNotNull(), grab_first_uuid(F.try_element_at(l_arr, F.lit(1)))
            )
            from_sibs = F.when(s_arr.isNotNull(), F.try_element_at(s_arr, F.lit(1)))
        else:
            from_links = F.when(l_arr.isNotNull(), related_uuids(l_arr))
            from_sibs = F.when(s_arr.isNotNull(), s_arr)
        out[outname] = F.when(has_links, from_links).when(
            has_sibs, from_sibs
        )
    pcol = PARENT_COLUMN.get(record_type)
    if pcol is not None and pcol in out:
        out[pcol] = F.when(parent.isNotNull(), parent).otherwise(out[pcol])
    return out


def media_presence_flags(
    mediarecords: Column, records: Column
) -> dict[str, Column]:
    """P14 — hasImage/hasMedia/hasSpecimen booleans from the relation
    link arrays (conversions.py:674-678): presence = the column is not
    None — NOT non-empty. The reference tests ``r["mediarecords"] is not
    None``, and relationsGrabber emits an EMPTY list (not None) when an
    ``idigbio:links`` mediarecord array carries no extractable uuid
    (conversions.py:656-657) — that record still reports hasImage=true
    (parity correction; the old ``size > 0`` form reported false)."""
    has_media = mediarecords.isNotNull()
    has_specimen = records.isNotNull()
    return {
        "hasMedia": has_media,
        # the reference sets hasImage IDENTICALLY to hasMedia at this
        # layer (conversions.py:677-678) — no mediatype refinement
        "hasImage": has_media,
        "hasSpecimen": has_specimen,
    }


# --------------------------------------------------------------------------
# F16 — WKT geoshape (conversions.py:771-816): POINT/POLYGON parse with the
# bare-coordinate-list fallback; point-radius circle from uncertainty.
# --------------------------------------------------------------------------

_NUM = r"[+-]?\d+(?:\.\d+)?"


def wkt_point(wkt: Column) -> Column:
    """``POINT (lon lat)`` -> struct(lon, lat); null if not a point.

    The word boundary keeps POINT from matching INSIDE 'MULTIPOINT'
    (same bug class the polygon parser's \\b fixed): a MULTIPOINT is
    not a point and must yield null, not its first coordinate."""
    lon = F.regexp_extract(wkt, rf"(?i)\bPOINT\s*\(\s*({_NUM})\s+{_NUM}\s*\)", 1)
    lat = F.regexp_extract(wkt, rf"(?i)\bPOINT\s*\(\s*{_NUM}\s+({_NUM})\s*\)", 1)
    ok = (lon != "") & (lat != "")
    return F.when(
        ok,
        F.struct(
            lon.cast("double").alias("lon"), lat.cast("double").alias("lat")
        ),
    )


def wkt_polygon_ring(wkt: Column) -> Column:
    """Outer ring of ``POLYGON ((x y, x y, ...))`` / first ring of a
    MULTIPOLYGON (or the reference's bare fallback: a comma-separated
    FLAT float list ``x,y,x,y,...`` — conversions.py:783-790 splits the
    whole string on commas, float()s every token, and zips evens with
    odds) -> array<struct(lon, lat)>.

    The word boundary on POLYGON stops the regex matching INSIDE
    'MULTIPOLYGON' (which used to eat the extra paren and drop the first
    vertex). The bare fallback applies only to letter-free strings and
    requires every token numeric, an even count, and >= 3 pairs — a
    2-pair list aborts in the reference too (shapely's LinearRing needs
    3 coordinates, and the bare except flags it invalid); anything else
    (a LINESTRING, a token that float() rejects) yields null, never a
    corrupt ring assembled from a coordinate tail."""
    inner = F.regexp_extract(wkt, r"(?i)\bPOLYGON\s*\(\s*\(([^)]*)\)", 1)
    multi = F.regexp_extract(
        wkt, r"(?i)\bMULTIPOLYGON\s*\(\s*\(\s*\(([^)]*)\)", 1
    )
    body = F.when(inner != "", inner).when(multi != "", multi)
    from idb_backend_spark.functions.grabbers import py_strip

    # py_strip, not F.trim: shapely tolerates tab/CR padding inside the
    # parens; a space-only trim left the first pair regex-anchored
    # against a leading tab (the whitespace-class sweep)
    pairs = F.split(py_strip(body), r"\s*,\s*")
    ring = F.transform(
        pairs,
        lambda p: F.struct(
            F.regexp_extract(p, rf"^({_NUM})\s+{_NUM}$", 1)
            .try_cast("double")
            .alias("lon"),
            F.regexp_extract(p, rf"^{_NUM}\s+({_NUM})$", 1)
            .try_cast("double")
            .alias("lat"),
        ),
    )
    valid = F.filter(
        ring, lambda s: s["lon"].isNotNull() & s["lat"].isNotNull()
    )
    # ALL comma tokens must be numeric pairs or the whole shape is
    # rejected (null) — silently dropping just the malformed vertex
    # would emit a syntactically-valid but geometrically WRONG ring to
    # downstream containment, where the reference rejects the shape
    from_wkt = F.when(
        (F.size(valid) >= 3) & (F.size(valid) == F.size(pairs)), valid
    )
    # reference bare fallback: flat comma-separated floats, evens = x/lon
    toks = F.split(
        py_strip(F.when(~wkt.rlike("[A-Za-z()]"), wkt)), r"\s*,\s*"
    )
    # py_double per token: the reference float()s every element of the
    # flat list (conversions.py:778) — unicode whitespace padding and
    # Nd digits accepted, Java suffixes rejected
    from idb_backend_spark.functions.grabbers import py_double

    nums = F.transform(toks, py_double)
    n = F.size(nums)
    bare_ok = (
        (n >= 6)
        & (n % 2 == 0)
        & (F.size(F.filter(nums, lambda x: x.isNotNull())) == n)
    )
    from_bare = F.when(
        bare_ok,
        F.transform(
            F.sequence(F.lit(0), (n / 2).cast("int") - 1),
            lambda i: F.struct(
                F.element_at(nums, (i * 2 + 1).cast("int")).alias("lon"),
                F.element_at(nums, (i * 2 + 2).cast("int")).alias("lat"),
            ),
        ),
    )
    return F.coalesce(from_wkt, from_bare)


def point_radius(geopoint: Column, uncertainty_m: Column) -> Column:
    """Circle shape from geopoint + coordinateUncertaintyInMeters
    (conversions.py:799-816; disabled in the reference pipeline at
    :952-953 but part of the capability surface)."""
    return F.when(
        geopoint.isNotNull() & uncertainty_m.isNotNull(),
        F.struct(
            F.lit("circle").alias("type"),
            geopoint.alias("center"),
            uncertainty_m.cast("double").alias("radius_m"),
        ),
    )


# --------------------------------------------------------------------------
# F23 — identifyRecord precedence (db_check.py:64-165): per-rowtype ordered
# identifier extraction; all candidates lowercased/trimmed; occurrenceID
# and bare id namespaced under the recordset.
# --------------------------------------------------------------------------


def id_from_rr(rr: Column, rsid: Column) -> Column:
    """idFromRR (db_check.py:98-108) over an array of
    ``struct<relatedResourceID, relationshipOfResource>`` rows.

    The reference's loop RETURNS on every branch of its first
    iteration — only the FIRST relatedResource is ever examined: a
    record whose first element lacks the two keys (here: null fields)
    yields nothing even when a later element would match. Kept
    verbatim. ``representedIn`` -> the munged related id;
    ``sameAs`` -> namespaced under the recordset; any other
    relationship (or missing keys, or an empty array) -> null."""
    from idb_backend_spark.functions.enrichment import munge_identifier

    first = F.element_at(rr, 1)
    rel = first["relationshipOfResource"]
    rid = first["relatedResourceID"]
    return (
        F.when(rr.isNull() | (F.size(rr) == 0), F.lit(None).cast("string"))
        .when(rel.isNull() | rid.isNull(), F.lit(None).cast("string"))
        .when(rel == "representedIn", munge_identifier(rid))
        .when(
            rel == "sameAs",
            F.concat(rsid, F.lit("\\"), munge_identifier(rid)),
        )
    )


def record_identifiers(
    rsid: Column,
    occurrence_id: Column,
    record_id: Column,
    bare_id: Column,
    record_id_cap: Column | None = None,
    resource_relationship: Column | None = None,
    bare_id_cap: Column | None = None,
) -> Column:
    """Candidate identifier array for dwc:Occurrence rows in the
    reference's TABLE order (identifier_fields, db_check.py:64-72):
    ``idigbio:recordId`` (verbatim), ``idigbio:recordID`` (the capital-D
    variant is a separate table row), ``dwc:ResourceRelationship``
    (via id_from_rr), ``dwc:occurrenceID`` (namespaced
    ``<rsid>\\<value>``), bare ``id`` (namespaced), bare ``ID``
    (namespaced). identifyRecord COLLECTS every present field's
    candidate in that order — it is a collection, not a
    first-match precedence (db_check.py:152-162). Nulls drop out;
    downstream probing is J9 (identity_match). Each candidate goes
    through munge_identifier — the reference's mungeid BOM strip + trim
    (db_check.py:44-45,:60-61; CSV exports with a UTF-8 BOM leak it
    into the first column's values) plus identifyRecord's final
    ``cid.lower()`` fold (db_check.py:161)."""
    from idb_backend_spark.functions.enrichment import munge_identifier

    norm = munge_identifier

    # identifyRecord's ``cid.lower()`` folds the WHOLE composed
    # candidate — including the rsid prefix (db_check.py:161); norm
    # lowers only the munged value, so the concat is wrapped again or a
    # mixed-case rsid would mint different identifiers than the
    # sequential kernel (which lowercases the composed string)
    ns = lambda c: F.when(  # noqa: E731
        c.isNotNull(), F.lower(F.concat(rsid, F.lit("\\"), norm(c)))
    )
    nul = F.lit(None).cast("string")
    return F.array_compact(
        F.array(
            norm(record_id),
            norm(record_id_cap) if record_id_cap is not None else nul,
            F.lower(id_from_rr(resource_relationship, rsid))
            if resource_relationship is not None
            else nul,
            ns(occurrence_id),
            ns(bare_id),
            ns(bare_id_cap) if bare_id_cap is not None else nul,
        )
    )


def media_identifiers(
    rsid: Column,
    record_id: Column,
    provider_managed_id: Column,
    dcterms_identifier: Column,
    record_id_cap: Column | None = None,
) -> Column:
    """Candidate identifier array for dwc:Multimedia / dcterms rows
    (identifier_fields, db_check.py:74-87): ``idigbio:recordId``,
    ``idigbio:recordID``, ``ac:providerManagedID`` (verbatim), then
    ``dcterms:identifier`` namespaced ``<rsid>\\media\\<value>``.

    The "UConn exception" (db_check.py:156-159) is kept: when
    dcterms:identifier is present and equals ac:providerManagedID
    case-insensitively, the providerManagedID arm is SKIPPED — the
    dcterms arm still contributes its namespaced form."""
    from idb_backend_spark.functions.enrichment import munge_identifier

    norm = munge_identifier
    nul = F.lit(None).cast("string")
    uconn = (
        dcterms_identifier.isNotNull()
        & provider_managed_id.isNotNull()
        & (F.lower(dcterms_identifier) == F.lower(provider_managed_id))
    )
    return F.array_compact(
        F.array(
            norm(record_id),
            norm(record_id_cap) if record_id_cap is not None else nul,
            F.when(~F.coalesce(uconn, F.lit(False)), norm(provider_managed_id)),
            # cid.lower() covers the rsid prefix too (see
            # record_identifiers) — wrap the whole composed candidate
            F.when(
                dcterms_identifier.isNotNull(),
                F.lower(
                    F.concat(
                        rsid, F.lit("\\media\\"), norm(dcterms_identifier)
                    )
                ),
            ),
        )
    )


# --------------------------------------------------------------------------
# F20 — prepForEs-equivalent finalization (indexer.py:50-89): the typed
# index document — null/empty handling, geopoint struct, ISO dates.
# --------------------------------------------------------------------------


def finalize_index_document(
    df: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    date_cols: tuple[str, ...] = (),
    drop_empty_strings: bool = True,
) -> DataFrame:
    """Shape the enriched frame for the analytical table: assemble the
    ``geopoint`` struct {lon, lat} (ES geo_point order, indexer.py:72-75),
    render dates as ISO strings alongside native columns, and null out
    zero-length strings — prepForEs's written skip-empty rule
    (indexer.py:79-83: ``len(v) > 0``, NO trim — a whitespace-only
    string is kept).

    Sweep finding, pinned in tests/test_finalize.py: on the
    reference's Python-3 runtime that skip is DEAD CODE — the
    ``isinstance(v, basestring)`` probe raises NameError (indexer.py
    never imports a py2 compat shim) straight into the bare ``except``,
    which keeps the value — so the reference as-run indexes empty
    strings too. ``drop_empty_strings=True`` implements the written
    intent (the py2 behavior the mapping was designed for);
    ``False`` reproduces the py3 runtime literally."""
    out = df
    if lat in df.columns and lon in df.columns:
        out = out.withColumn(
            "geopoint",
            F.when(
                F.col(lat).isNotNull() & F.col(lon).isNotNull(),
                F.struct(F.col(lon).alias("lon"), F.col(lat).alias("lat")),
            ),
        )
    # batch ALL remaining projections into one withColumns: the real
    # index document carries hundreds of string fields, and a
    # withColumn-per-column chain adds one Project node each — analyzer
    # cost grows quadratically with width (driver-side, before any task
    # runs); a single plan node keeps planning O(width)
    batch: dict[str, Column] = {
        f"{c}_iso": F.date_format(F.col(c), "yyyy-MM-dd") for c in date_cols
    }
    if drop_empty_strings:
        for field in out.schema.fields:
            if field.dataType.simpleString() == "string":
                # len == 0 exactly — NOT blank_to_null's trimmed form:
                # the reference's written rule keeps '  ' (len 2)
                c = F.col(f"`{field.name}`")
                batch[field.name] = F.when(c != "", c)
    return out.withColumns(batch) if batch else out
