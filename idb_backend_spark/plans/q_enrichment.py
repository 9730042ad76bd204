"""§2.8 enrichment parity + §2.3 J9/J10 + F6/F7 geo kernels + S3
term-canonicalization entries. Inputs are synthesized deterministically
from integer keys — identical literal arithmetic on both engines."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from idb_backend_spark.operators import aggregates as agg  # noqa: F401
from idb_backend_spark.operators import (  # noqa: F401
    ann,
    dedup,
    relations,
    versioning,
)
from idb_backend_spark.functions import grabbers, text  # noqa: F401
from idb_backend_spark.plans import synth
from idb_backend_spark.plans.registry import _t, _t_spread, query
from idb_backend_spark.query.shim import (  # noqa: F401
    compile_shim,
    point_in_polygon_sql,
    shim_to_sql,
)
from idb_backend_spark.plans.synth import decimal_exponent_sql
from idb_backend_spark.plans.synth import GEO_LAT as _GEO_LAT
from idb_backend_spark.plans.synth import GEO_LON as _GEO_LON


# §2.8 enrichment parity + §2.3 J9/J10 — added with the enrichment library.
# Inputs are synthesized deterministically from integer keys (identical
# literal arithmetic on both sides) since the TPC-H-ish tables carry no
# biodiversity fields; the operators under test are the engine's.
# --------------------------------------------------------------------------

from idb_backend_spark.functions import enrichment as E
from idb_backend_spark.functions import finalize as FIN
from idb_backend_spark.functions.flags import flag_column

_POLY = [[-100.0, 10.0], [-60.0, 10.0], [-80.0, 45.0]]  # [lon, lat] ring


# Entry `shim_geo_polygon` retired (slot freed for
# media_url_discovery, q_store.py): P11's geo_polygon branch emits the
# IDENTICAL unrolled ray-cast kernel as P10's polygon shapes — the one
# distinct piece was the `{"type": "geo_polygon", "points": ...}` shim
# DISPATCH, which now grades inside `shim_geo_shape` as the in_poly_p11
# projected flag (compiled through compile_shim's geo_polygon branch
# over the same ring). Unit pins for the full P11 filter shape stay in
# tests/test_shim.py.


_HOLE = [[-85.0, 15.0], [-75.0, 15.0], [-80.0, 25.0]]  # inside _POLY
_ENV = [[-90.0, 40.0], [-70.0, 20.0]]  # GeoJSON envelope [tl, br] corners


#: a second ring for the P11 dispatch flag (distinct from _POLY so the
#: flag isn't constant-true on the filtered rows)
_POLY_P11 = [[-100.0, 10.0], [-80.0, 10.0], [-90.0, 45.0]]


@query(
    "shim_geo_shape",
    "SELECT c_custkey, lat, lon, "
    "(lat <= 40.0 AND lat >= 20.0 AND lon >= -90.0 AND lon <= -70.0)"
    " AS in_env, "
    f"({point_in_polygon_sql('lat', 'lon', _POLY_P11)}) AS in_poly_p11 "
    "FROM (SELECT c_custkey, "
    f"{_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM customer) g "
    f"WHERE ({point_in_polygon_sql('lat', 'lon', _POLY)}) "
    f"AND NOT ({point_in_polygon_sql('lat', 'lon', _HOLE)}) "
    "ORDER BY c_custkey",
)
def shim_geo_shape(spark, sf_dir):
    """P10/P11 — geo_shape dispatch: polygon-with-hole containment as
    the filter (outer-ring parity AND NOT hole parity) plus an envelope
    geo_shape as a projected flag — both through the shim compiler's
    geo_shape branch (query_shim.py:85-86). The retired
    shim_geo_polygon slot is folded in as the in_poly_p11 flag: the same unrolled
    ray-cast kernel reached through P11's `{"type": "geo_polygon",
    "points": ...}` dispatch (query_shim.py:89-90), so both predicate
    spellings stay driver-graded in one slot."""
    g = (
        _t(spark, sf_dir, "customer")
        .withColumn("lat", F.expr(_GEO_LAT))
        .withColumn("lon", F.expr(_GEO_LON))
        .withColumn("geopoint", F.struct(F.col("lat"), F.col("lon")))
    )
    poly_with_hole = compile_shim({
        "geopoint": {
            "type": "geo_shape",
            "shape": {"type": "polygon", "coordinates": [_POLY, _HOLE]},
        },
    })
    envelope = compile_shim({
        "geopoint": {"type": "geo_shape", "shape": {"type": "envelope", "coordinates": _ENV}},
    })
    poly_p11 = compile_shim(
        {"geopoint": {"type": "geo_polygon", "points": _POLY_P11}}
    )
    return (
        g.filter(poly_with_hole)
        .select(
            "c_custkey",
            "lat",
            "lon",
            envelope.alias("in_env"),
            poly_p11.alias("in_poly_p11"),
        )
        .orderBy("c_custkey")
    )


# Synthesized verbatim coordinate strings: mostly 3-decimal in-range values,
# with modulo classes for flip (%13), bounds (%17) and low-precision (%19).
_LAT_S = (
    "CASE WHEN c_custkey % 13 = 0 THEN '120.5' "
    "WHEN c_custkey % 17 = 0 THEN '95.0' "
    "WHEN c_custkey % 19 = 0 THEN CAST((c_custkey * 7) % 160 - 80 AS VARCHAR(32)) || '.25' "
    "ELSE CAST((c_custkey * 7) % 160 - 80 AS VARCHAR(32)) || '.125' END"
)
_LON_S = (
    "CASE WHEN c_custkey % 13 = 0 THEN '45.125' "
    "WHEN c_custkey % 17 = 0 THEN '200.0' "
    "ELSE CAST((c_custkey * 13) % 360 - 180 AS VARCHAR(32)) || '.125' END"
)


@query(
    "geo_normalize_flags",
    "WITH g AS (SELECT c_custkey, "
    f"{_LAT_S} AS lat_s, {_LON_S} AS lon_s FROM customer), "
    "p AS (SELECT c_custkey, lat_s, lon_s, "
    "  CAST(lat_s AS DOUBLE) AS lat0, CAST(lon_s AS DOUBLE) AS lon0, "
    "  " + decimal_exponent_sql("lat_s") + " AS latexp, "
    "  " + decimal_exponent_sql("lon_s") + " AS lonexp FROM g), "
    "f AS (SELECT *, ((lat0 >= -180 AND lat0 < -90) OR (lat0 > 90 AND lat0 <= 180))"
    "  AND lon0 BETWEEN -90 AND 90 AS flip FROM p), "
    "v AS (SELECT c_custkey, latexp, lonexp, flip, "
    "  CASE WHEN flip THEN lon0 ELSE lat0 END AS lat1, "
    "  CASE WHEN flip THEN lat0 ELSE lon0 END AS lon1 FROM f), "
    "b AS (SELECT *, lat1 < -90 OR lat1 > 90 OR lon1 < -180 OR lon1 > 180 AS oob FROM v) "
    "SELECT c_custkey, "
    "CASE WHEN oob THEN NULL ELSE lat1 END AS lat, "
    "CASE WHEN oob THEN NULL ELSE lon1 END AS lon, "
    "concat_ws(',', CASE WHEN flip AND NOT oob THEN 'geopoint_pre_flip' END, "
    "CASE WHEN oob THEN 'geopoint_bounds' END, "
    "CASE WHEN NOT oob AND (latexp <= 2 OR lonexp <= 2) THEN 'geopoint_low_precision' END"
    ") AS flags FROM b ORDER BY c_custkey",
)
def geo_normalize_flags(spark, sf_dir):
    """F6 (expression part) — coordinate flip/bounds/precision with flags."""
    g = (
        _t(spark, sf_dir, "customer")
        .withColumn("lat_s", F.expr(_LAT_S))
        .withColumn("lon_s", F.expr(_LON_S))
    )
    # staged form: parse once per coordinate as explicit columns,
    # branch logic over doubles — same result, no re-inlined parse
    g = E.with_geo_normalize(g, F.col("lat_s"), F.col("lon_s"))
    return g.select(
        "c_custkey",
        F.col("__geo_lat").alias("lat"),
        F.col("__geo_lon").alias("lon"),
        F.concat_ws(
            ",",
            F.col("__flag_pre_flip"),
            F.col("__flag_bounds"),
            F.col("__flag_low_precision"),
        ).alias("flags"),
    ).orderBy("c_custkey")


#: the '' arm (%11=9): the reference's filled() counts an empty
#: string as PRESENT (conversions.py:741-742), so '' flags
#: removed+invalid like any unmatched value — graded here
_BOR_S = (
    "CASE c_custkey % 11 WHEN 0 THEN 'PreservedSpecimen' WHEN 1 THEN 'fossil' "
    "WHEN 2 THEN 'Living Specimen' WHEN 3 THEN 'material sample' "
    "WHEN 4 THEN 'some weird specimen' WHEN 5 THEN 'machine observation' "
    "WHEN 6 THEN 'Human Observation' WHEN 7 THEN 'occurrence records' "
    "WHEN 8 THEN 'Exsiccati' WHEN 9 THEN '' ELSE NULL END"
)


@query(
    "bor_normalize",
    "WITH g AS (SELECT c_custkey, lower(trim(" + _BOR_S + ")) AS v FROM customer), "
    "m AS (SELECT c_custkey, v, v IS NOT NULL AS filled, "
    "  CASE WHEN contains(v, 'machine') AND contains(v, 'observation') THEN 'machineobservation' "
    "  WHEN contains(v, 'preserved') THEN 'preservedspecimen' "
    "  WHEN contains(v, 'fossil') THEN 'fossilspecimen' "
    "  WHEN contains(v, 'living') THEN 'livingspecimen' "
    "  WHEN contains(v, 'material') THEN 'materialsample' "
    "  WHEN contains(v, 'specimen') THEN 'preservedspecimen' "
    "  WHEN contains(v, 'observation') THEN 'humanobservation' "
    "  WHEN contains(v, 'occurrence') THEN 'occurrence' END AS matched FROM g) "
    "SELECT c_custkey, CASE WHEN filled THEN matched END AS basisofrecord, "
    "concat_ws(',', CASE WHEN filled AND matched IS NULL THEN 'dwc_basisofrecord_removed' END, "
    "CASE WHEN (filled AND matched IS NULL) OR NOT filled THEN 'dwc_basisofrecord_invalid' END"
    ") AS flags FROM m ORDER BY c_custkey",
)
def bor_normalize(spark, sf_dir):
    """F13 — basisOfRecord controlled-vocabulary normalization + flags."""
    g = _t(spark, sf_dir, "customer").withColumn("bor", F.expr(_BOR_S))
    r = E.fix_basis_of_record(F.col("bor"))
    return g.select(
        "c_custkey",
        r["value"].alias("basisofrecord"),
        F.concat_ws(
            ",", flag_column(r["flag_removed"]), flag_column(r["flag_invalid"])
        ).alias("flags"),
    ).orderBy("c_custkey")


#: the '' arm (%10=8) — filled() counts '' as present, so it
#: takes the removed+invalid arm (conversions.py:741-742, :909-911)
_RANK_S = (
    "CASE p_partkey % 10 WHEN 0 THEN 'species' WHEN 1 THEN 'Sp.' "
    "WHEN 2 THEN 'Division' WHEN 3 THEN 'unknown' WHEN 4 THEN 'blahblah' "
    "WHEN 5 THEN 'subtribe' WHEN 6 THEN 'family' WHEN 7 THEN 'var.' "
    "WHEN 8 THEN '' ELSE NULL END"
)


@query(
    "taxon_rank_normalize",
    "WITH g AS (SELECT p_partkey, lower(trim(" + _RANK_S + ")) AS v FROM part), "
    "m AS (SELECT p_partkey, v, v IS NOT NULL AS filled, "
    "  v IN ('species','sp.','division','unknown','family','var.') AS in_mapping, "
    "  CASE v WHEN 'species' THEN 'species' WHEN 'sp.' THEN 'species' "
    "    WHEN 'division' THEN 'phylum' WHEN 'family' THEN 'family' "
    "    WHEN 'var.' THEN 'variety' END AS mapped, "
    "  v IN ('species','subtribe','family','variety','phylum') AS acceptable FROM g) "
    "SELECT p_partkey, "
    "CASE WHEN filled AND in_mapping THEN mapped "
    "  WHEN filled AND acceptable THEN v END AS taxonrank, "
    "concat_ws(',', "
    "CASE WHEN filled AND in_mapping AND mapped IS NOT NULL AND mapped != v THEN 'dwc_taxonrank_replaced' END, "
    "CASE WHEN filled AND ((in_mapping AND mapped IS NULL) OR (NOT in_mapping AND NOT acceptable)) THEN 'dwc_taxonrank_removed' END, "
    "CASE WHEN filled AND ((in_mapping AND mapped IS NULL) OR (NOT in_mapping AND NOT acceptable)) THEN 'dwc_taxonrank_invalid' END"
    ") AS flags FROM m ORDER BY p_partkey",
)
def taxon_rank_normalize(spark, sf_dir):
    """F14 — taxonrank mapping/acceptable-vocabulary normalization."""
    g = _t(spark, sf_dir, "part").withColumn("tr", F.expr(_RANK_S))
    r = E.fix_taxon_rank(F.col("tr"))
    return g.select(
        "p_partkey",
        r["value"].alias("taxonrank"),
        F.concat_ws(
            ",",
            flag_column(r["flag_replaced"]),
            flag_column(r["flag_removed"]),
            flag_column(r["flag_invalid"]),
        ).alias("flags"),
    ).orderBy("p_partkey")


_SN_S = (
    "CASE c_custkey % 5 WHEN 0 THEN 'Acer rubrum' WHEN 1 THEN 'Quercus' "
    "WHEN 4 THEN 'X123 weird' ELSE NULL END"
)
_GEN_S = "CASE c_custkey % 5 WHEN 2 THEN 'Betula' WHEN 3 THEN NULL ELSE 'Tilia' END"
_EPI_S = "CASE c_custkey % 5 WHEN 2 THEN 'nigra' ELSE NULL END"


@query(
    "name_crossfill",
    "WITH g AS (SELECT c_custkey, " + _SN_S + " AS sn, " + _GEN_S + " AS gen, "
    + _EPI_S + " AS epi FROM customer), "
    "f AS (SELECT c_custkey, "
    "  coalesce(sn, CASE WHEN gen IS NOT NULL THEN concat_ws(' ', gen, epi) END) AS sn2, "
    "  CASE WHEN sn IS NULL AND gen IS NOT NULL THEN 'scientificname_added' END AS flag "
    "  FROM g), "
    "t AS (SELECT c_custkey, sn2, flag, "
    "  string_split_regex(trim(sn2), '\\s+') AS toks FROM f), "
    "p AS (SELECT c_custkey, sn2, flag, "
    "  CASE WHEN regexp_matches(toks[1], '^[A-Za-z][a-z-]+$') THEN lower(toks[1]) END AS genus, "
    "  toks[2] AS second FROM t) "
    "SELECT c_custkey, sn2 AS scientificname, flag, genus, "
    "CASE WHEN genus IS NOT NULL AND regexp_matches(second, '^[a-z-]+$') "
    "  THEN lower(second) END AS specificepithet "
    "FROM p ORDER BY c_custkey",
)
def name_crossfill(spark, sf_dir):
    """F12 — genus+specificepithet → scientificname crossfill, then the
    heuristic binomial parse back to genus/specificepithet
    (conversions.py:745-768; the external name-parser service is replaced
    by native expressions)."""
    g = (
        _t(spark, sf_dir, "customer")
        .withColumn("sn", F.expr(_SN_S))
        .withColumn("gen", F.expr(_GEN_S))
        .withColumn("epi", F.expr(_EPI_S))
    )
    filled = E.scientificname_fill(F.col("sn"), F.col("gen"), F.col("epi"))
    g = g.select(
        "c_custkey",
        filled["value"].alias("scientificname"),
        flag_column(filled["flag_added"]).alias("flag"),
    )
    parsed = E.genus_species_parse(F.col("scientificname"))
    return g.select(
        "c_custkey",
        "scientificname",
        "flag",
        parsed["genus"].alias("genus"),
        parsed["specificepithet"].alias("specificepithet"),
    ).orderBy("c_custkey")


_WKT_S = (
    "CASE s_suppkey % 5 WHEN 0 THEN 'POINT (-81.2 29.6)' "
    "WHEN 1 THEN 'polygon ((0 0, 10 0, 10 10, 0 0))' "
    "WHEN 2 THEN '1,1,2,2,3,1' "
    "WHEN 3 THEN 'LINESTRING (0 0, 1 1)' ELSE NULL END"
)


@query(
    "wkt_geoshape_parse",
    # Golden-expectation oracle (SURVEY §5 style): the WKT input is a pure
    # function of the key, so the expected parse is stated directly —
    # replicating Spark's regex kernels in DuckDB's RE2 dialect would test
    # the dialects, not the operator.
    "SELECT s_suppkey, "
    "CAST(CASE s_suppkey % 5 WHEN 0 THEN -81.2 END AS DOUBLE) AS pt_lon, "
    "CAST(CASE s_suppkey % 5 WHEN 0 THEN 29.6 END AS DOUBLE) AS pt_lat, "
    "CAST(CASE s_suppkey % 5 WHEN 1 THEN 4 WHEN 2 THEN 3 END AS INTEGER) AS ring_n, "
    "CAST(CASE s_suppkey % 5 WHEN 1 THEN 0.0 WHEN 2 THEN 1.0 END AS DOUBLE) AS ring0_lon, "
    "CAST(CASE s_suppkey % 5 WHEN 1 THEN 0.0 WHEN 2 THEN 1.0 END AS DOUBLE) AS ring0_lat "
    "FROM supplier ORDER BY s_suppkey",
)
def wkt_geoshape_parse(spark, sf_dir):
    """F16 — WKT POINT/POLYGON parse incl. the bare-coordinate-list
    fallback (conversions.py:771-816), flattened to scalars for the
    cross-engine compare."""
    g = _t(spark, sf_dir, "supplier").withColumn("wkt", F.expr(_WKT_S))
    pt = FIN.wkt_point(F.col("wkt"))
    ring = FIN.wkt_polygon_ring(F.col("wkt"))
    g = g.select("s_suppkey", pt.alias("pt"), ring.alias("ring"))
    return g.select(
        "s_suppkey",
        F.col("pt.lon").alias("pt_lon"),
        F.col("pt.lat").alias("pt_lat"),
        F.when(F.col("ring").isNotNull(), F.size("ring"))
        .cast("int")
        .alias("ring_n"),
        F.try_element_at("ring", F.lit(1))["lon"].alias("ring0_lon"),
        F.try_element_at("ring", F.lit(1))["lat"].alias("ring0_lat"),
    ).orderBy("s_suppkey")


_LIC_S = (
    "CASE o_orderkey % 7 WHEN 0 THEN 'http://creativecommons.org/licenses/by/4.0/' "
    "WHEN 1 THEN 'https://creativecommons.org/publicdomain/zero/1.0' "
    "WHEN 2 THEN 'http://creativecommons.org/licenses/by-nc/3.0' "
    "WHEN 3 THEN 'http://creativecommons.org/licenses/by/4.0/' "
    "WHEN 4 THEN 'all rights reserved' ELSE NULL END"
)
_LIC_MAP_SQL = (
    "CASE r WHEN 'http://creativecommons.org/licenses/by/4.0/' THEN 'CC4 BY' "
    "WHEN 'https://creativecommons.org/publicdomain/zero/1.0' THEN 'CC0' "
    "WHEN 'http://creativecommons.org/licenses/by-nc/3.0' THEN 'CC3 BY-NC' END"
)


@query(
    "license_majority",
    "WITH g AS (SELECT o_custkey, " + _LIC_S + " AS r FROM orders), "
    "c AS (SELECT o_custkey, " + _LIC_MAP_SQL + " AS code FROM g), "
    "n AS (SELECT o_custkey, code, count(*) AS votes FROM c "
    "      WHERE code IS NOT NULL GROUP BY 1, 2), "
    "w AS (SELECT o_custkey, code AS license, votes, row_number() OVER ("
    "  PARTITION BY o_custkey ORDER BY votes DESC, code) AS rn FROM n) "
    "SELECT o_custkey, license, votes FROM w WHERE rn = 1 ORDER BY o_custkey",
)
def license_majority(spark, sf_dir):
    """F10/A11 — rights-string canonicalization + per-entity majority vote."""
    g = _t(spark, sf_dir, "orders").withColumn("r", F.expr(_LIC_S))
    coded = g.select(
        "o_custkey", E.license_lookup(F.col("r")).alias("code")
    ).filter(F.col("code").isNotNull())
    out = agg.majority_vote(coded, ["o_custkey"], "code")
    return out.select(
        "o_custkey", F.col("winner").alias("license"), F.col("votes")
    ).orderBy("o_custkey")


@query(
    "stable_surrogate_id",
    "SELECT c_custkey, "
    "substring(h, 1, 8) || '-' || substring(h, 9, 4) || '-' || "
    "substring(h, 13, 4) || '-' || substring(h, 17, 4) || '-' || "
    "substring(h, 21, 12) AS sid "
    "FROM (SELECT c_custkey, md5('idigbio:' || c_name) AS h FROM customer) "
    "ORDER BY c_custkey",
)
def stable_surrogate_id(spark, sf_dir):
    """A4 — deterministic surrogate id per unique value (uuid-shaped md5;
    the byte-exact RFC-4122 uuid5 variant is unit-tested against Python's
    uuid module — sha1 is not portable to every oracle engine)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey", E.stable_id_md5(F.col("c_name")).alias("sid")
    ).orderBy("c_custkey")


_GB_S = (
    "'voucher AB' || CAST(doc_id * 37 % 90000 + 10000 AS VARCHAR(32)) || "
    "' and XY-' || CAST(doc_id * 101 % 900000 + 100000 AS VARCHAR(32)) || ' end'"
)


@query(
    "genbank_accessions",
    "SELECT doc_id, array_to_string(regexp_extract_all(" + _GB_S + ", "
    "'([a-zA-Z]{1,2}-?_?\\d{5,6})', 1), '|') AS accessions "
    "FROM documents ORDER BY doc_id",
)
def genbank_accessions_q(spark, sf_dir):
    """F15 — GenBank accession regex findall.

    Output is pipe-joined (not a raw array) because the driver's hash
    canonicalizer cannot sort array-typed columns.
    """
    from idb_backend_spark.functions.grabbers import genbank_accessions

    docs = _t(spark, sf_dir, "documents").withColumn("s", F.expr(_GB_S))
    return docs.select(
        "doc_id",
        F.array_join(genbank_accessions("s"), "|").alias("accessions"),
    ).orderBy("doc_id")


@query(
    "date_fallback_assembly",
    "WITH g AS (SELECT o_orderkey, "
    "  CASE WHEN o_orderkey % 5 = 0 THEN o_orderdate END AS ed, "
    "  year(o_orderdate) AS y, "
    "  CASE WHEN o_orderkey % 3 != 0 THEN month(o_orderdate) END AS m, "
    "  CASE WHEN o_orderkey % 3 = 1 THEN day(o_orderdate) END AS d, "
    "  CASE WHEN o_orderkey % 2 = 0 THEN dayofyear(o_orderdate) END AS sdoy "
    "  FROM orders) "
    # reference branch nesting (conversions.py:604-624): startDayOfYear
    # only applies when a MONTH is present and the day is not; without a
    # month the bare year parses to Jan 1 and sdoy is ignored
    "SELECT o_orderkey, CASE WHEN ed IS NOT NULL THEN ed "
    "WHEN m IS NOT NULL AND d IS NOT NULL THEN make_date(y, m, d) "
    "WHEN m IS NOT NULL AND sdoy IS NOT NULL THEN make_date(y, 1, 1) + CAST(sdoy - 1 AS INTEGER) "
    "WHEN m IS NOT NULL THEN make_date(y, m, 1) "
    "ELSE make_date(y, 1, 1) END AS datecollected "
    "FROM g ORDER BY o_orderkey",
)
def date_fallback_assembly(spark, sf_dir):
    """F8 (fallback path) — datecollected assembly from year/month/day/
    startDayOfYear parts (conversions.py:604-624)."""
    g = (
        _t(spark, sf_dir, "orders")
        .withColumn(
            "ed", F.when(F.col("o_orderkey") % 5 == 0, F.col("o_orderdate"))
        )
        .withColumn("y", F.year("o_orderdate"))
        .withColumn(
            "m", F.when(F.col("o_orderkey") % 3 != 0, F.month("o_orderdate"))
        )
        .withColumn(
            "d", F.when(F.col("o_orderkey") % 3 == 1, F.dayofmonth("o_orderdate"))
        )
        .withColumn(
            "sdoy",
            F.when(F.col("o_orderkey") % 2 == 0, F.dayofyear("o_orderdate")),
        )
    )
    return g.select(
        "o_orderkey",
        E.date_fallback(
            F.col("ed"), F.col("y"), F.col("m"), F.col("d"), F.col("sdoy")
        ).alias("datecollected"),
    ).orderBy("o_orderkey")


#: media_type's graded inputs: every bucket key, every mime alias, a
#: common-but-unroutable mime (png — the reference's default_buckets has
#: no entry, so mediatype must be NULL), and one unknown format (sorted
#: dict keys for determinism); the oracle CASEs are GENERATED from the
#: same _FORMAT_BUCKETS/_MIME_ALIASES dicts, so engine and oracle update
#: in lockstep.
_MEDIA_FMTS = (
    sorted(E._FORMAT_BUCKETS)
    + sorted(E._MIME_ALIASES)
    + ["image/png", "application/x-unknown"]
)


def _media_precedence_oracle() -> str:
    n = len(_MEDIA_FMTS)
    fmt_arms = " ".join(
        f"WHEN {i} THEN '{f}'" for i, f in enumerate(_MEDIA_FMTS)
    )
    alias_arms = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(E._MIME_ALIASES.items())
    )
    bucket_arms = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(E._FORMAT_BUCKETS.items())
    )
    # the reference's `or` chains skip EMPTY STRINGS at non-final
    # alternatives (Python falsy; conversions.py:711-713,:727), so the
    # planted '' arms must fall through exactly like NULLs — spelled
    # nullif on every non-final alternative — while a chain RESOLVING
    # to '' ('' bestQuality) keeps '' and still blocks the identifier
    # fallback (`url is None` gate). The format feed is a THREE-key
    # chain (dcterms:format -> dc:format -> ac:bestQualityFormat):
    # %7=0 rows skip an '' first key, %7=1 rows skip NULL then '',
    # %7=2 rows resolve to '' (format '' / mediatype NULL), every
    # other row takes the first key — so the cycle output is preserved.
    return (
        "WITH g AS (SELECT p_partkey, "
        "  CASE WHEN p_partkey % 4 = 0 THEN 'http://a/' || CAST(p_partkey AS VARCHAR(32)) "
        "       WHEN p_partkey % 4 = 1 THEN '' END AS au, "
        "  CASE WHEN p_partkey % 3 = 0 THEN 'http://b/' || CAST(p_partkey AS VARCHAR(32)) "
        "       WHEN p_partkey % 6 = 1 THEN '' END AS bq, "
        "  CASE WHEN p_partkey % 5 = 0 THEN '' "
        "       ELSE 'http://dct/' || CAST(p_partkey AS VARCHAR(32)) END AS dct, "
        "  'http://dc/' || CAST(p_partkey AS VARCHAR(32)) AS dc, "
        "  p_partkey % 2 = 0 AS has_ac, "
        f"  CASE CAST(p_partkey % {n} AS INT) {fmt_arms} END AS cyc FROM part), "
        "gf AS (SELECT *, "
        "  CASE WHEN p_partkey % 7 IN (0, 2) THEN '' WHEN p_partkey % 7 = 1 THEN NULL ELSE cyc END AS f1, "
        "  CASE WHEN p_partkey % 7 = 0 THEN cyc WHEN p_partkey % 7 = 1 THEN '' END AS f2, "
        "  CASE WHEN p_partkey % 7 = 1 THEN cyc WHEN p_partkey % 7 = 2 THEN '' END AS f3 "
        "  FROM g), "
        "gc AS (SELECT *, coalesce(nullif(f1, ''), nullif(f2, ''), f3) AS fmt0 FROM gf), "
        "g2 AS (SELECT *, CASE WHEN has_ac THEN '  ' || upper(fmt0) "
        "  ELSE fmt0 END AS fmt_raw FROM gc), "
        "g3 AS (SELECT *, lower(trim(fmt_raw)) AS format FROM g2), "
        # aliases apply to the BUCKET lookup only; format stays original
        f"g4 AS (SELECT *, CASE format {alias_arms} ELSE format END "
        "  AS fmt_aliased FROM g3) "
        "SELECT p_partkey, coalesce(nullif(au, ''), bq, "
        "CASE WHEN NOT has_ac THEN coalesce(nullif(dct, ''), dc) END) AS accessuri, "
        f"format, CASE fmt_aliased {bucket_arms} END AS mediatype "
        "FROM g4 ORDER BY p_partkey"
    )


@query(
    "media_url_precedence",
    _media_precedence_oracle(),
)
def media_url_precedence(spark, sf_dir):
    """F11 complete — media URL selection precedence incl. the
    any-ac:-key guard, PLUS dc:format normalization and its storage
    bucket (media_type; conversions.py:711-738): the raw format cycles
    through every known bucket key plus one unknown, in mixed case with
    padding, so the lower/trim fold, the whole bucket table, and the
    unknown->NULL arm are all value-hashed.

    The slot also grades the Python-or EMPTY-STRING semantics
    (conversions.py:711-713,:727 — '' is falsy at non-final chain
    positions, but a chain resolving to '' still blocks the identifier
    fallback): planted '' arms in the url precedence AND a three-key
    format chain fed through functions.enrichment.first_nonempty."""
    pk = F.col("p_partkey")
    fmts = _MEDIA_FMTS
    cyc = F.element_at(
        F.array(*[F.lit(x) for x in fmts]), (pk % len(fmts)).cast("int") + 1
    )
    # three-key format chain (dcterms:format -> dc:format ->
    # ac:bestQualityFormat): '' and NULL arms planted so the or-chain
    # skip is value-hashed; the chain resolves to the cycle value
    # everywhere except the %7=2 rows, which resolve to ''
    f1 = (
        F.when(pk % 7 == 0, F.lit(""))
        .when(pk % 7 == 2, F.lit(""))
        .when(pk % 7 == 1, F.lit(None).cast("string"))
        .otherwise(cyc)
    )
    f2 = F.when(pk % 7 == 0, cyc).when(pk % 7 == 1, F.lit(""))
    f3 = F.when(pk % 7 == 1, cyc).when(pk % 7 == 2, F.lit(""))
    fmt0 = E.first_nonempty(f1, f2, f3)
    fmt_raw = F.when(
        pk % 2 == 0, F.concat(F.lit("  "), F.upper(fmt0))
    ).otherwise(fmt0)
    g = (
        _t(spark, sf_dir, "part")
        .withColumn(
            "au",
            F.when(pk % 4 == 0, F.concat(F.lit("http://a/"), pk.cast("string")))
            .when(pk % 4 == 1, F.lit("")),
        )
        .withColumn(
            "bq",
            F.when(pk % 3 == 0, F.concat(F.lit("http://b/"), pk.cast("string")))
            .when(pk % 6 == 1, F.lit("")),
        )
        .withColumn(
            "dct",
            F.when(pk % 5 == 0, F.lit("")).otherwise(
                F.concat(F.lit("http://dct/"), pk.cast("string"))
            ),
        )
        .withColumn("dc", F.concat(F.lit("http://dc/"), pk.cast("string")))
        .withColumn("has_ac", pk % 2 == 0)
    )
    fmt, bucket = E.media_type(fmt_raw)
    return g.select(
        "p_partkey",
        E.access_uri(
            F.col("au"), F.col("bq"), F.col("dct"), F.col("dc"), F.col("has_ac")
        ).alias("accessuri"),
        fmt.alias("format"),
        bucket.alias("mediatype"),
    ).orderBy("p_partkey")


@query(
    "corrections_apply",
    # grades the FULL chain semantics (record_corrector.py
    # correct_record): replacement/removal flags; a correction FAMILY
    # sharing one key tuple where the kingdom guard's trip skips the
    # sibling field too (`continue` skips the whole correction,
    # :221-229); and ORIGINAL-value probing — the compound rule keys on
    # 'building' even though the single-key rule already rewrote the
    # segment to 'bldg' (get_etag reads `d`, :196-199)
    "WITH base AS (SELECT c_custkey, c_mktsegment AS seg0, "
    "lower(trim(c_mktsegment)) AS lseg, "
    "CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'Plantae' "
    "WHEN 1 THEN 'Viruses' WHEN 2 THEN 'Animalia' "
    "ELSE 'Bacteria' END AS kingdom0, "
    "'n' || CAST(c_custkey % 7 AS VARCHAR(8)) AS nation0 FROM customer), "
    "d AS (SELECT *, lseg IN ('automobile', 'household') AS hit2, "
    "kingdom0 IN ('Plantae', 'Animalia') AS protected FROM base) "
    "SELECT c_custkey, "
    "CASE WHEN lseg = 'building' THEN 'bldg' "
    "WHEN lseg = 'machinery' THEN NULL ELSE seg0 END AS seg, "
    "CASE WHEN lseg = 'building' THEN 'seg_replaced' "
    "WHEN lseg = 'machinery' THEN 'seg_removed' END AS flag_seg, "
    "CASE WHEN hit2 AND NOT protected THEN 'fungi' "
    "ELSE kingdom0 END AS kingdom, "
    "CASE WHEN hit2 AND protected THEN 'dwc_kingdom_suspect' "
    "WHEN hit2 THEN 'kingdom_replaced' END AS flag_kingdom, "
    "CASE WHEN hit2 AND NOT protected THEN 'corrected-nation' "
    "ELSE nation0 END AS nation, "
    "CASE WHEN hit2 AND NOT protected THEN 'nation_replaced' "
    "END AS flag_nation, "
    "CASE WHEN lseg = 'building' AND lower(kingdom0) = 'plantae' "
    "THEN 'orig-probe-hit' ELSE 'st0' END AS status, "
    "CASE WHEN lseg = 'building' AND lower(kingdom0) = 'plantae' "
    "THEN 'status_replaced' END AS flag_status "
    "FROM d ORDER BY c_custkey",
)
def corrections_apply(spark, sf_dir):
    """J10 — the corrections chain end-to-end: replacement/removal
    flags, the family-wide kingdom guard, and original-value probing
    (record_corrector.py:186-255)."""
    from idb_backend_spark.operators.corrections import apply_corrections

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    base = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.when(k % 4 == 0, "Plantae")
        .when(k % 4 == 1, "Viruses")
        .when(k % 4 == 2, "Animalia")
        .otherwise("Bacteria")
        .alias("kingdom"),
        F.concat(F.lit("n"), (k % 7).cast("string")).alias("nation"),
        F.lit("st0").alias("status"),
    )
    ss = cust.sparkSession
    seg_rules = ss.createDataFrame(
        [("building", "bldg"), ("machinery", None)],
        "seg string, __set string",
    )
    k_rules = ss.createDataFrame(
        [("automobile", "fungi"), ("household", "fungi")],
        "seg string, __set string",
    )
    n_rules = ss.createDataFrame(
        [("automobile", "corrected-nation"),
         ("household", "corrected-nation")],
        "seg string, __set string",
    )
    st_rules = ss.createDataFrame(
        [("building", "plantae", "orig-probe-hit")],
        "seg string, kingdom string, __set string",
    )
    out = apply_corrections(
        base,
        [
            (["seg"], "seg", seg_rules),
            (["seg"], "kingdom", k_rules),
            (["seg"], "nation", n_rules),
            (["seg", "kingdom"], "status", st_rules),
        ],
    )
    return out.select(
        "c_custkey", "seg", "flag_seg", "kingdom", "flag_kingdom",
        "nation", "flag_nation", "status", "flag_status",
    ).orderBy("c_custkey")


@query(
    "identity_match",
    "WITH cand AS (SELECT o_orderkey, ident FROM orders, "
    "  UNNEST(['c' || CAST(o_custkey AS VARCHAR(32)), "
    "    CASE WHEN o_orderkey % 5 = 0 THEN 'c' || CAST(o_custkey + 1 AS VARCHAR(32)) END"
    "  ]) AS u(ident) WHERE ident IS NOT NULL), "
    "hits AS (SELECT cand.o_orderkey, c.c_custkey FROM cand "
    "  JOIN customer c ON cand.ident = 'c' || CAST(c.c_custkey AS VARCHAR(32))) "
    "SELECT o_orderkey, count(DISTINCT c_custkey) AS n_matched, "
    "min(c_custkey) AS matched_uuid, count(DISTINCT c_custkey) > 1 AS conflict "
    "FROM hits GROUP BY o_orderkey ORDER BY o_orderkey",
)
def identity_match(spark, sf_dir):
    """J9 — ingest identity matching: candidate identifiers probed against
    the existing-identifier table; cross-record conflict detection
    (db_check.py:302-339)."""
    ok = F.col("o_orderkey")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cand = (
        orders.select(
            ok,
            F.array(
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")),
                F.when(
                    ok % 5 == 0,
                    F.concat(F.lit("c"), (F.col("o_custkey") + 1).cast("string")),
                ),
            ).alias("ids"),
        )
        .select(ok, F.explode("ids").alias("ident"))
        .filter(F.col("ident").isNotNull())
    )
    existing = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("ident"),
        F.col("c_custkey"),
    )
    hits = cand.join(existing, "ident")
    return (
        hits.groupBy("o_orderkey")
        .agg(
            F.countDistinct("c_custkey").alias("n_matched"),
            F.min("c_custkey").alias("matched_uuid"),
            (F.countDistinct("c_custkey") > 1).alias("conflict"),
        )
        .orderBy("o_orderkey")
    )


# J9 driver-graded evidence for the COGROUPED INGEST KERNEL + size
# router (operators/ingest.py). Deterministic multi-recordset batch from orders:
# one giant recordset (o_custkey%4==0, ~25% of rows) routed to the
# RELATIONAL leg and ~30 small ones routed to the KERNEL leg (the
# threshold is derived from the table size so both legs run at every
# SF). Outcome classes exercised: match / update / create (seeded
# children with matching vs stale etags), dup_etag (identical content,
# first-wins), dup_id (shared identifier, distinct content),
# no_recordid, and the member-absence delete rows (3 'gone' children
# per recordset). Created-entity uuid5 values are not SQL-expressible
# (sha1 — not portable to the oracle engine, same note as
# stable_surrogate_id); the oracle pins them as has_uuid and their
# byte-exactness is pinned in tests/test_ingest_kernel.py.
_INGEST_KERNEL_ORACLE = (
    "WITH r AS (SELECT CAST(o_orderkey AS BIGINT) AS k, "
    "  CASE WHEN o_custkey % 4 = 0 THEN 'rs-giant' "
    "    ELSE 'rs-s' || CAST(o_custkey % 40 AS VARCHAR(32)) END AS rsid, "
    "  CASE WHEN o_orderkey % 97 = 0 THEN 'dup' "
    "    WHEN o_orderkey % 89 = 0 THEN 'noid' "
    "    WHEN o_orderkey % 83 = 0 THEN 'shared' "
    "    ELSE 'normal' END AS kind "
    "  FROM orders), "
    "fw AS (SELECT *, CASE WHEN kind IN ('dup', 'shared') THEN "
    "  row_number() OVER (PARTITION BY rsid, kind ORDER BY k) END AS rn "
    "  FROM r), "
    "rowsout AS (SELECT rsid, k AS seq, "
    "  CASE WHEN kind = 'noid' THEN 'no_recordid' "
    "    WHEN kind = 'dup' AND rn > 1 THEN 'dup_etag' "
    "    WHEN kind = 'shared' AND rn > 1 THEN 'dup_id' "
    "    WHEN kind IN ('dup', 'shared') THEN 'create' "
    "    WHEN k % 10 = 1 THEN 'match' "
    "    WHEN k % 10 = 2 THEN 'update' "
    "    ELSE 'create' END AS outcome, "
    "  CASE WHEN kind = 'normal' AND k % 10 IN (1, 2) "
    "    THEN 'ex-' || CAST(k AS VARCHAR(32)) END AS known_uuid, "
    "  NOT (kind = 'noid' OR (kind IN ('dup', 'shared') AND rn > 1)) "
    "    AS has_uuid, "
    "  CASE WHEN kind = 'noid' OR (kind IN ('dup', 'shared') AND rn > 1) "
    "    THEN '' "
    "    WHEN kind = 'dup' THEN rsid || '\\dup' "
    "    WHEN kind = 'shared' THEN rsid || '\\shared' "
    "    ELSE rsid || '\\occ-' || CAST(k AS VARCHAR(32)) END AS ids, "
    "  kind = 'normal' AND k % 10 IN (1, 2) AS found, "
    "  kind = 'normal' AND k % 10 = 1 AS matched, "
    "  NOT (kind = 'noid' OR (kind IN ('dup', 'shared') AND rn > 1) "
    "    OR (kind = 'normal' AND k % 10 = 1)) AS ingested "
    "  FROM fw), "
    "dels AS (SELECT rsid, CAST(NULL AS BIGINT) AS seq, "
    "  'delete' AS outcome, "
    "  'gone-' || rsid || '-' || CAST(j AS VARCHAR(32)) AS known_uuid, "
    "  TRUE AS has_uuid, '' AS ids, FALSE AS found, FALSE AS matched, "
    "  FALSE AS ingested "
    "  FROM (SELECT DISTINCT rsid FROM r) "
    "  CROSS JOIN (VALUES (0), (1), (2)) AS t(j)) "
    "SELECT * FROM rowsout UNION ALL SELECT * FROM dels "
    "ORDER BY rsid, seq, known_uuid"
)


@query("ingest_kernel_outcomes", _INGEST_KERNEL_ORACLE)
def ingest_kernel_outcomes(spark, sf_dir):
    """J9 — the composed ingest row loop (db_check.py:181-475) through
    the size-routed kernel: ingest_subfiles_routed over a deterministic
    multi-recordset batch, both router legs live (the giant recordset
    takes ingest_outcomes_relational, the small ones the cogrouped
    sequential kernel — one closed-form oracle grades both against the
    same classification, so a divergence between the legs is also a
    red row)."""
    from idb_backend_spark.functions.etags import etag_pairs_expr
    from idb_backend_spark.operators.ingest import ingest_subfiles_routed

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    ks = k.cast("string")
    rsid = F.when(
        F.col("o_custkey") % 4 == 0, F.lit("rs-giant")
    ).otherwise(
        F.concat(F.lit("rs-s"), (F.col("o_custkey") % 40).cast("string"))
    )
    kind = (
        F.when(k % 97 == 0, "dup")
        .when(k % 89 == 0, "noid")
        .when(k % 83 == 0, "shared")
        .otherwise("normal")
    )

    def pair(key, val):
        return F.struct(F.lit(key).alias("k"), val.alias("v"))

    OCC, BY = "dwc:occurrenceID", "dwc:recordedBy"
    rec = (
        F.when(
            kind == "dup",
            F.array(pair(OCC, F.lit("dup")), pair(BY, F.lit("dupper"))),
        )
        # unique content per noid row — the kernel's etag check precedes
        # identification, so duplicate noid content would be dup_etag
        .when(
            kind == "noid",
            F.array(pair(BY, F.concat(F.lit("anon-"), ks))),
        )
        .when(
            kind == "shared",
            F.array(
                pair(OCC, F.lit("shared")),
                pair(BY, F.concat(F.col("o_orderpriority"), F.lit("-"), ks)),
            ),
        )
        .otherwise(
            F.array(
                pair(OCC, F.concat(F.lit("occ-"), ks)),
                pair(BY, F.col("o_orderpriority")),
            )
        )
    )
    rows = orders.select(
        rsid.alias("rsid"),
        F.lit(0).cast("int").alias("file_order"),
        F.lit("f.txt").alias("fname"),
        F.lit("dwc:Occurrence").alias("rowtype"),
        k.alias("seq"),
        rec.alias("rec"),
    )

    seeded = orders.filter(
        (k % 97 != 0) & (k % 89 != 0) & (k % 83 != 0) & (k % 10).isin(1, 2)
    )
    children = seeded.select(
        rsid.alias("rsid"),
        F.lit("rs").alias("scope"),
        F.lit("records").alias("rtype"),
        F.concat(rsid, F.lit("\\occ-"), ks).alias("ident"),
        F.concat(F.lit("ex-"), ks).alias("uuid"),
        # k%10==1 -> the child's stored etag equals the incoming rec's
        # content hash (match); k%10==2 -> stale etag (update)
        F.when(k % 10 == 1, etag_pairs_expr(rec))
        .otherwise(F.concat(F.lit("stale-"), ks))
        .alias("etag"),
        rsid.alias("parent"),
        F.lit(False).alias("deleted"),
    )
    gone = (
        rows.select("rsid")
        .distinct()
        .select(
            "rsid",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            "rsid",
            F.lit("rs").alias("scope"),
            F.lit("records").alias("rtype"),
            F.concat(F.col("rsid"), F.lit("\\gone-"), F.col("j")).alias(
                "ident"
            ),
            F.concat(F.lit("gone-"), F.col("rsid"), F.lit("-"), F.col("j"))
            .alias("uuid"),
            F.concat(F.lit("gone-etag-"), F.col("j")).alias("etag"),
            F.col("rsid").alias("parent"),
            F.lit(False).alias("deleted"),
        )
    )
    lookup = children.unionByName(gone)

    # threshold derived from the table size so the giant recordset
    # (~n/4 rows) exceeds it and the small ones (~n/40) stay under it
    # at every SF — both router legs execute in the graded run
    thr = max(1000, orders.count() // 6)
    out = ingest_subfiles_routed(rows, lookup, kernel_max_rows=thr)
    return out.select(
        "rsid",
        "seq",
        "outcome",
        F.when(
            F.col("found") | (F.col("outcome") == "delete"), F.col("uuid")
        ).alias("known_uuid"),
        F.col("uuid").isNotNull().alias("has_uuid"),
        F.array_join("ids", "|").alias("ids"),
        "found",
        "matched",
        "ingested",
    ).orderBy("rsid", "seq", "known_uuid")


_SUSPECT_CASE_SQL = (
    "CASE WHEN NOT datafile_ok THEN 'DATAFILE_NOT_OK' "
    "WHEN rc = 0 AND mc = 0 THEN 'NO_RECORDS' "
    "WHEN rc > 0 AND rcr = rc AND rup = 0 AND rdl = 0 "
    "THEN 'ALLNEW_RECORDS' "
    "WHEN rc = 0 AND rdl > 0 THEN 'DELETED_ALL_RECORDS' "
    "WHEN rdl > 0 AND rcr / NULLIF(CAST(rdl AS DOUBLE), 0) > 0.9 "
    "AND rcr / NULLIF(CAST(rdl AS DOUBLE), 0) < 1.1 "
    "AND rcr / NULLIF(CAST(rc AS DOUBLE), 0) > 0.1 THEN 'RECORDS_CHURN' "
    "WHEN rc > 0 AND rdl / CAST(rc AS DOUBLE) > 0.2 "
    "THEN 'DELETED_MANY_RECORDS' "
    "WHEN rc > 0 AND rcr / CAST(rc AS DOUBLE) > 0.45 "
    "THEN 'MANY_NEW_RECORDS' "
    "WHEN mc > 0 AND mcr = mc AND mup = 0 AND mdl = 0 "
    "THEN 'ALLNEW_MEDIA' "
    "WHEN mc = 0 AND mdl > 0 THEN 'DELETED_ALL_MEDIA' "
    "WHEN mc > 400 AND mdl / CAST(mc AS DOUBLE) > 0.06 "
    "THEN 'DELETED_MANY_MEDIA' "
    "WHEN mc > 400 AND mcr / CAST(mc AS DOUBLE) > 0.4 "
    "THEN 'MANY_NEW_MEDIA' "
    "WHEN mdl > 0 AND mcr / NULLIF(CAST(mdl AS DOUBLE), 0) > 0.9 "
    "AND mcr / NULLIF(CAST(mdl AS DOUBLE), 0) < 1.1 "
    "AND mcr / NULLIF(CAST(mc AS DOUBLE), 0) > 0.1 THEN 'MEDIA_CHURN' "
    "END"
)


@query(
    "ingest_summary",
    # per-recordset-group A9 counters + the is_row_suspect tag
    # (ds_sum_counts.py:53-97): batch membership varies per group (mod
    # 2+g%3) so the reconciliation ratios differ across groups and
    # several suspect arms fire; media counters and datafile_ok are
    # deterministic arithmetic on the group id, identical both sides
    "WITH base AS (SELECT o_orderkey AS ok, "
    "CAST(o_custkey % 23 AS INT) AS g, "
    "(o_orderkey % 3 != 0) AS in_store, "
    "(o_orderkey % (2 + (o_custkey % 23) % 3) != 0) AS in_batch, "
    "(o_orderkey % 5 = 0) AS mut FROM orders), "
    "cnt AS (SELECT g, "
    "sum(CASE WHEN in_batch THEN 1 ELSE 0 END) AS rc, "
    "sum(CASE WHEN in_batch AND NOT in_store THEN 1 ELSE 0 END) AS rcr, "
    "sum(CASE WHEN in_batch AND in_store AND mut THEN 1 ELSE 0 END) AS rup, "
    "sum(CASE WHEN in_store AND NOT in_batch THEN 1 ELSE 0 END) AS rdl "
    "FROM base GROUP BY g), "
    "med AS (SELECT g, CAST(rc AS BIGINT) AS rc, CAST(rcr AS BIGINT) AS rcr, "
    "CAST(rup AS BIGINT) AS rup, CAST(rdl AS BIGINT) AS rdl, "
    "CAST((g * 53) % 600 AS BIGINT) AS mc, "
    "CAST((g * 31) % 500 AS BIGINT) AS mcr, "
    "CAST(g % 3 AS BIGINT) AS mup, CAST((g * 7) % 40 AS BIGINT) AS mdl, "
    "(g % 7 != 0) AS datafile_ok FROM cnt) "
    "SELECT g, rc AS records_count, rcr AS records_create, "
    "rup AS records_update, rdl AS records_delete, "
    "mc AS mediarecords_count, mcr AS mediarecords_create, "
    "mup AS mediarecords_update, mdl AS mediarecords_delete, "
    "datafile_ok, " + _SUSPECT_CASE_SQL + " AS tag "
    "FROM med ORDER BY g",
)
def ingest_summary(spark, sf_dir):
    """A9 — ingest run summary + suspects report: per-recordset-group
    create/update/delete counters from the store↔batch reconciliation
    (db_check.py:216-247) fed through the is_row_suspect rule chain
    (ds_sum_counts.py:53-97, operators.store.suspect_tag)."""
    from idb_backend_spark.operators.store import suspect_tag

    orders = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    g = (F.col("o_custkey") % 23).cast("int")
    base = orders.select(
        ok.alias("ok"),
        g.alias("g"),
        (ok % 3 != 0).alias("in_store"),
        (ok % (F.lit(2) + (F.col("o_custkey") % 23) % 3) != 0).alias(
            "in_batch"
        ),
        (ok % 5 == 0).alias("mut"),
    )
    b = F.col("in_batch")
    s = F.col("in_store")
    cnt = base.groupBy("g").agg(
        F.sum(b.cast("long")).alias("rc"),
        F.sum((b & ~s).cast("long")).alias("rcr"),
        F.sum((b & s & F.col("mut")).cast("long")).alias("rup"),
        F.sum((s & ~b).cast("long")).alias("rdl"),
    )
    gg = F.col("g").cast("long")
    med = cnt.withColumns(
        {
            "mc": (gg * 53) % 600,
            "mcr": (gg * 31) % 500,
            "mup": gg % 3,
            "mdl": (gg * 7) % 40,
            "datafile_ok": F.col("g") % 7 != 0,
        }
    )
    return med.select(
        "g",
        F.col("rc").alias("records_count"),
        F.col("rcr").alias("records_create"),
        F.col("rup").alias("records_update"),
        F.col("rdl").alias("records_delete"),
        F.col("mc").alias("mediarecords_count"),
        F.col("mcr").alias("mediarecords_create"),
        F.col("mup").alias("mediarecords_update"),
        F.col("mdl").alias("mediarecords_delete"),
        "datafile_ok",
        suspect_tag(
            F.col("rc"), F.col("rcr"), F.col("rup"), F.col("rdl"),
            F.col("mc"), F.col("mcr"), F.col("mup"), F.col("mdl"),
            F.col("datafile_ok"),
        ).alias("tag"),
    ).orderBy("g")


#: the entry's stopword lexicon — ONE Python constant renders into both
#: the Spark filter and (via synth.sql_word_list) the oracle SQL
_TQ_STOP = ["the", "and", "of", "to", "a", "in", "is"]


@query(
    "text_quality_metrics",
    "WITH t AS (SELECT doc_id, text, "
    "  regexp_split_to_array(" + synth.NORM_SQL + ", ' ') AS toks"
    "  FROM documents) "
    "SELECT doc_id, len(toks) AS n_tokens, "
    "round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))"
    " / length(text), 6) AS punct_ratio, "
    f"round(len(list_filter(toks, x -> x IN ({synth.sql_word_list(_TQ_STOP)})))"
    " / len(toks), 6) AS stopword_ratio "
    "FROM t ORDER BY doc_id",
)
def text_quality_metrics(spark, sf_dir):
    """Text analysis — quality scoring signals: token count, punctuation
    ratio, stopword ratio."""
    from idb_backend_spark.functions.text import tokens

    docs = _t_spread(spark, sf_dir, "documents", "doc_id", by_range=True).select(
        "doc_id", "text", tokens("text").alias("toks")
    )
    stop = _TQ_STOP
    n_tok = F.size("toks")
    punct = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[.,;:!?]", ""))
    ) / F.length("text")
    stop_ratio = (
        F.size(F.filter("toks", lambda x: x.isin(stop))) / n_tok
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


# RETIRED: `bpe_token_count` — one inline
# regexp_extract_all count ('[A-Za-z0-9]+|[^A-Za-z0-9\s]', no case
# fold) with no operator function behind it; T9 token-counting coverage
# stays graded by `token_count_quality` and `text_quality_metrics`.
# Its exact tokenization is pinned by goldens in
# tests/test_properties.py (alongside the library's related-but-
# different bpe_ish_token_count, which folds case and splits digit
# runs). Slot freed for `sequence_packing` (q_scale).


# --------------------------------------------------------------------------


_TERM_CASE = (
    "CASE o_orderkey % 7 WHEN 0 THEN 'Collector' WHEN 1 THEN 'MonthCollected' "
    "WHEN 2 THEN 'dwc:catalogNumber' WHEN 3 THEN 'ac:accessURI' "
    "WHEN 4 THEN 'Annotations' WHEN 5 THEN 'coreid' "
    "ELSE 'SomethingNovel' END"
)


@query(
    "term_canonicalize",
    # golden expectations for each synthesized header, straight from the
    # public standards registry (data/term_translate.py)
    "WITH v AS (SELECT o_orderkey, " + _TERM_CASE + " AS verbatim FROM orders) "
    "SELECT o_orderkey, verbatim, "
    "CASE verbatim WHEN 'Collector' THEN 'dwc:recordedBy' "
    "  WHEN 'MonthCollected' THEN 'dwc:month' "
    "  WHEN 'dwc:catalogNumber' THEN 'dwc:catalogNumber' "
    "  WHEN 'ac:accessURI' THEN 'ac:accessURI' "
    "  WHEN 'Annotations' THEN NULL "
    "  WHEN 'coreid' THEN 'coreid' ELSE verbatim END AS canonical, "
    "CASE verbatim WHEN 'Collector' THEN 'dwc:Occurrence' "
    "  WHEN 'MonthCollected' THEN 'dwc:Occurrence' "
    "  WHEN 'dwc:catalogNumber' THEN 'dwc:Occurrence' "
    "  WHEN 'ac:accessURI' THEN 'dwc:Multimedia' "
    "  WHEN 'Annotations' THEN 'dwc:Multimedia' "
    "  WHEN 'coreid' THEN 'dwc:Text:Extension' "
    "  ELSE 'Unknown' END AS term_class "
    "FROM v ORDER BY o_orderkey",
)
def term_canonicalize(spark, sf_dir):
    """S3 distributed — verbatim provider headers canonicalized through the
    FULL 496-row translate registry (fieldnames.py:92-589) compiled to a
    broadcast-size literal map; the oracle pins golden expectations for
    translate hits, identity rows, drop-marked rows, and unknown headers.
    """
    from idb_backend_spark.data.term_translate import TRANSLATE

    canon_pairs, class_pairs = [], []
    for raw, (canon, cls) in TRANSLATE.items():
        canon_pairs += [F.lit(raw), F.lit(canon)]
        class_pairs += [F.lit(raw), F.lit(cls)]
    canon_map = F.create_map(*canon_pairs)
    class_map = F.create_map(*class_pairs)

    orders = _t(spark, sf_dir, "orders")
    v = orders.select("o_orderkey", F.expr(_TERM_CASE).alias("verbatim"))
    known = class_map[F.col("verbatim")]
    return v.select(
        "o_orderkey",
        "verbatim",
        F.when(known.isNotNull(), canon_map[F.col("verbatim")])
        .otherwise(F.col("verbatim"))
        .alias("canonical"),
        F.coalesce(known, F.lit("Unknown")).alias("term_class"),
    ).orderBy("o_orderkey")


_RG_LON = (
    "CASE WHEN c_custkey % 17 = 0 THEN -104.0 "
    "WHEN c_custkey % 13 = 0 THEN -134.0 "
    "WHEN c_custkey % 11 = 0 THEN -51.9 "
    "WHEN c_custkey % 7 = 0 THEN 20.5 "
    "WHEN c_custkey % 5 = 0 THEN -98.5 "
    "WHEN c_custkey % 3 = 0 THEN 0.0 ELSE 104.0 END"
)
_RG_LAT = (
    "CASE WHEN c_custkey % 17 = 0 THEN -35.0 "
    "WHEN c_custkey % 13 = 0 THEN -25.0 "
    "WHEN c_custkey % 11 = 0 THEN 14.2 "
    "WHEN c_custkey % 7 = 0 THEN 78.9 "
    "WHEN c_custkey % 5 = 0 THEN 39.8 "
    "WHEN c_custkey % 3 = 0 THEN 0.0 ELSE 35.0 END"
)
_RG_ISO = (
    "CASE WHEN c_custkey % 17 = 0 THEN 'CN' "
    "WHEN c_custkey % 13 = 0 THEN 'AU' "
    "WHEN c_custkey % 11 = 0 THEN 'BR' "
    "WHEN c_custkey % 7 = 0 THEN 'IN' "
    "WHEN c_custkey % 5 = 0 THEN 'CA' "
    "WHEN c_custkey % 3 = 0 THEN NULL ELSE 'CN' END"
)


@query(
    "rev_geocode",
    # golden expectations per modulo class, validated against the
    # packaged coarse world outlines (data/world_regions.py): sign/axis
    # flip corrections, mismatch-no-correction, ocean failure, clean hit
    "SELECT c_custkey, "
    "CAST(CASE WHEN c_custkey % 17 = 0 THEN 104.0 "
    " WHEN c_custkey % 13 = 0 THEN 134.0 "
    " WHEN c_custkey % 11 = 0 THEN -51.9 "
    " WHEN c_custkey % 7 = 0 THEN 78.9 "
    " WHEN c_custkey % 5 = 0 THEN -98.5 "
    " WHEN c_custkey % 3 = 0 THEN 0.0 ELSE 104.0 END AS DOUBLE) AS lon, "
    "CAST(CASE WHEN c_custkey % 17 = 0 THEN 35.0 "
    " WHEN c_custkey % 13 = 0 THEN -25.0 "
    " WHEN c_custkey % 11 = 0 THEN -14.2 "
    " WHEN c_custkey % 7 = 0 THEN 20.5 "
    " WHEN c_custkey % 5 = 0 THEN 39.8 "
    " WHEN c_custkey % 3 = 0 THEN 0.0 ELSE 35.0 END AS DOUBLE) AS lat, "
    "CASE WHEN c_custkey % 17 = 0 THEN 'CN' "
    " WHEN c_custkey % 13 = 0 THEN 'AU' "
    " WHEN c_custkey % 11 = 0 THEN 'BR' "
    " WHEN c_custkey % 7 = 0 THEN 'IN' "
    " WHEN c_custkey % 5 = 0 THEN 'US' "
    " WHEN c_custkey % 3 = 0 THEN NULL ELSE 'CN' END AS country, "
    # when a stated country triggers the flip search, the mismatch flag is
    # set unconditionally (reference conversions.py:530) — including the
    # failure cases
    "CASE WHEN c_custkey % 17 = 0 THEN "
    "  'rev_geocode_failure,rev_geocode_mismatch,rev_geocode_both_sign,rev_geocode_corrected' "
    " WHEN c_custkey % 13 = 0 THEN "
    "  'rev_geocode_failure,rev_geocode_mismatch,rev_geocode_lon_sign,rev_geocode_corrected' "
    " WHEN c_custkey % 11 = 0 THEN "
    "  'rev_geocode_failure,rev_geocode_mismatch,rev_geocode_lat_sign,rev_geocode_corrected' "
    " WHEN c_custkey % 7 = 0 THEN "
    "  'rev_geocode_failure,rev_geocode_mismatch,rev_geocode_flip,rev_geocode_corrected' "
    " WHEN c_custkey % 5 = 0 THEN 'rev_geocode_mismatch' "
    " WHEN c_custkey % 3 = 0 THEN 'rev_geocode_failure' "
    " ELSE NULL END AS flags "
    "FROM customer ORDER BY c_custkey",
)
def rev_geocode_q(spark, sf_dir):
    """F7 — reverse geocode + 8-way flip correction loop
    (conversions.py:513-563) over the packaged coarse country outlines,
    1°-grid prefiltered, as an Arrow-batched pandas UDF. Synthesized
    coordinate classes exercise: both-sign / lon-sign / lat-sign / axis
    flips (each corrected to the stated country), a mismatch that no flip
    can fix (flag only, coordinates kept), an ocean failure with no
    stated country (no flip attempted), and a clean in-country hit."""
    from idb_backend_spark.functions.geo import (
        default_eez_geocoder,
        default_geocoder,
        rev_geocode_udf,
    )

    cust = _t(spark, sf_dir, "customer")
    inp = cust.select(
        "c_custkey",
        F.expr(f"CAST(({_RG_LON}) AS DOUBLE)").alias("in_lon"),
        F.expr(f"CAST(({_RG_LAT}) AS DOUBLE)").alias("in_lat"),
        F.expr(_RG_ISO).alias("iso"),
    )
    out = inp.withColumn(
        "rg",
        rev_geocode_udf(default_geocoder(), default_eez_geocoder())(
            "in_lon", "in_lat", "iso"
        ),
    )
    return out.select(
        "c_custkey",
        F.col("rg.lon").alias("lon"),
        F.col("rg.lat").alias("lat"),
        F.col("rg.country").alias("country"),
        F.col("rg.flags").alias("flags"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# F6 — datum CRS transform, NATIVE abridged-Molodensky path
# (conversions.py:485-509; public parameters DMA TR 8350.2). The per-datum
# constants below are generated from geo.MOLODENSKY_PARAMS so the Spark
# expression and the DuckDB oracle share DATA while transcribing the
# FORMULA independently (Column algebra vs SQL text).
# --------------------------------------------------------------------------


from idb_backend_spark.functions import geo as GEO

_DATUM_LAT = "CAST(((c_custkey * 7) % 120) - 60 + 0.125 AS DOUBLE)"
_DATUM_LON = "CAST(((c_custkey * 13) % 360) - 180 + 0.25 AS DOUBLE)"
_DATUM_RAW = (
    "CASE c_custkey % 16 WHEN 0 THEN 'NAD27' WHEN 1 THEN 'WGS 72' "
    "WHEN 2 THEN 'WGS84' WHEN 3 THEN 'North American Datum 1983' "
    "WHEN 4 THEN 'Cape' WHEN 5 THEN 'European Datum 1950' "
    "WHEN 6 THEN 'Tokyo Datum' WHEN 7 THEN 'OSGB 1936' "
    "WHEN 8 THEN 'Pulkovo 1942' WHEN 9 THEN 'GDA94' "
    # 'Campo Inchauspe' is a real shift (its NIMA parameters are in
    # the table); the later arms exercise more regional datums incl.
    # the EPSG-code and verbose-alias resolution paths. 'Ocotepeque 1935' stays a
    # deliberately UNKNOWN datum so the error flag keeps graded coverage.
    "WHEN 10 THEN 'Campo Inchauspe' WHEN 11 THEN 'PSAD56' "
    "WHEN 12 THEN 'EPSG:4275' WHEN 13 THEN 'Old Hawaiian' "
    "WHEN 14 THEN 'Ocotepeque 1935' ELSE NULL END"
)


def _molodensky_oracle_sql() -> str:
    """DuckDB SQL for the abridged Molodensky shift (shared CTE chain in
    plans.synth, constants inlined from geo.MOLODENSKY_PARAMS)."""
    from idb_backend_spark.plans.synth import (
        MOLODENSKY_LAT_SQL,
        MOLODENSKY_LON_SQL,
        molodensky_cte_chain,
        molodensky_flag_sql,
    )

    return (
        f"WITH g AS (SELECT c_custkey, {_DATUM_LAT} AS lat, "
        f"{_DATUM_LON} AS lon, {_DATUM_RAW} AS datum_raw FROM customer), "
        + molodensky_cte_chain("g")
        + " SELECT c_custkey, "
        f"round({MOLODENSKY_LAT_SQL}, 6) AS lat_wgs84, "
        f"round({MOLODENSKY_LON_SQL}, 6) AS lon_wgs84, "
        f"{molodensky_flag_sql()} AS flag "
        "FROM mgs ORDER BY c_custkey"
    )


@query("datum_shift_molodensky", _molodensky_oracle_sql())
def datum_shift_molodensky(spark, sf_dir):
    """F6 — datum→WGS84 transform as a native expression: abridged
    Molodensky over the 34-datum NIMA/DMA TR 8350.2 table (NAD27, ED50,
    TOKYO, OSGB36, AGD66/84, SAD69, PULKOVO42, CAPE, PSAD56, NTF,
    LUZON, OLD HAWAIIAN, ... plus WGS72's 0.554″ Z-rotation longitude
    term), identity for the ITRF-aligned family, pass-through + flag
    for missing/unknown datums (reference conversions.py:485-509
    contract; 'Ocotepeque 1935' stays planted as the unknown-datum arm).
    Staged so the per-datum constants bind once — all trig is JVM-side
    builtin inside whole-stage codegen."""
    g = _t_spread(
        spark, sf_dir, "customer", "c_custkey", by_range=True
    ).select(
        "c_custkey",
        F.expr(_DATUM_LAT).alias("lat"),
        F.expr(_DATUM_LON).alias("lon"),
        F.expr(_DATUM_RAW).alias("datum_raw"),
    )
    shifted = GEO.with_molodensky_shift(
        g, F.col("lat"), F.col("lon"), F.col("datum_raw")
    )
    return shifted.select(
        "c_custkey",
        F.round("lat_wgs84", 6).alias("lat_wgs84"),
        F.round("lon_wgs84", 6).alias("lon_wgs84"),
        F.col("datum_flag").alias("flag"),
    ).orderBy("c_custkey")
