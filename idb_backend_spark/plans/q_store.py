"""Versioned store (§2.3 J1 / §2.5 W2 / §2.7 U2 / X5), multimodal
(F24/F25), raw-map addressing (P13), and the composed ETL pipeline."""

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
from idb_backend_spark.functions import enrichment as E
from idb_backend_spark.functions import grabbers, text  # noqa: F401
from idb_backend_spark.plans.registry import _t, _t_spread, query
from idb_backend_spark.plans.registry import staging_dir as _tmpdir


from idb_backend_spark.query.shim import compile_shim, shim_to_sql  # noqa: F401


# Versioned store (§2.3 J1 / §2.5 W2 / §2.7 U2 / X5) and multimodal (F24)
# --------------------------------------------------------------------------


# Catalog entry `versioned_merge` retired to free the slot
# for `ingest_kernel_outcomes` (q_enrichment — driver-graded evidence
# for the cogrouped ingest kernel + size router). W2/X5 stay graded
# without it, in the same
# catalog: `versioning.merge_batch` — the exact kernel this entry drove —
# runs INSIDE `ingest_e2e` (q_download), where apply_harvest_batch's
# merge (store.py:252) feeds the live latest view that ingest_e2e
# value-hashes, including the etag-gate (unchanged rows filtered) and
# the version arithmetic (new keys at 0, changed at version+1). The
# etag-gated merge also stays value-hashed in `store_compaction` and
# `streaming_incremental_merge`'s latest-view arms. Unit coverage:
# tests/test_store.py.


# Catalog entry `tombstone_deletes` retired to free a grading
# slot (catalog.py retirement rule). U2 stays double-graded without it:
# the anti-join delete DETECTION shape is `anti_join_deletes`
# (q_relational), and `versioning.tombstones_for_deletes` itself — the
# fixed-tombstone-etag emission — runs INSIDE the driver-graded
# `ingest_e2e` (apply_harvest_batch's delete detection: tombstones
# are unioned into the history whose live latest view is value-hashed)
# and inside `store_compaction`/`streaming_incremental_merge`'s
# TOMBSTONE_ETAG latest-view arms.


def _magic_blobs(docs):
    """Synthetic media blobs keyed by doc_id % 4 (JPEG / PNG / WAV /
    junk magic bytes + the text payload) — the ONE corpus builder both
    F24 (media_sniff_buckets) and F25 (media_derivatives) grade against,
    so their oracles can never drift onto different magic prefixes."""
    return docs.select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit(b"\xff\xd8\xff\xe0"))
            .when(F.col("doc_id") % 4 == 1, F.lit(b"\x89PNG\r\n\x1a\n"))
            .when(
                F.col("doc_id") % 4 == 2,
                F.lit(b"RIFF\x00\x00\x00\x00WAVE"),
            )
            .otherwise(F.lit(b"text")),
            F.col("text").cast("binary"),
        ).alias("content"),
    )


@query(
    "media_sniff_buckets",
    # binary blobs synthesized per doc with magic-byte prefixes by doc_id%4:
    # JPEG / PNG / WAV / junk — the oracle knows the expected bucket directly
    "SELECT CASE doc_id % 4 WHEN 0 THEN 'images' WHEN 1 THEN 'images' "
    "WHEN 2 THEN 'sounds' ELSE NULL END AS bucket, count(*) AS n "
    "FROM documents GROUP BY 1 ORDER BY n DESC, bucket NULLS FIRST",
)
def media_sniff_buckets(spark, sf_dir):
    """F24 — magic-byte media validation through the mapInPandas pipeline,
    aggregated to per-bucket counts."""
    from idb_backend_spark.functions.multimodal import validate_media

    docs = _t(spark, sf_dir, "documents")
    blobs = _magic_blobs(docs)
    meta = validate_media(blobs)
    return (
        meta.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc_nulls_first("bucket"))
    )


@query(
    "media_derivatives",
    # JPEG blobs (doc_id%4==0) pass fullsize through byte-identical; the
    # derivative fan-out is one row per (decodable blob, dtype). The
    # oracle pins the per-(dtype, jpeg-source) row counts; content bytes
    # are hash-derived (not SQL-expressible) and covered by unit tests.
    "WITH src AS (SELECT doc_id, doc_id % 4 = 0 AS is_jpeg FROM documents) "
    "SELECT d.dtype, src.is_jpeg, count(*) AS n FROM src, "
    "  (SELECT unnest(['fullsize','thumbnail','webview']) AS dtype) d "
    "GROUP BY 1, 2 ORDER BY dtype, is_jpeg",
)
def media_derivatives(spark, sf_dir):
    """F25 — derivative generation through the PIL-gated mapInPandas
    kernel (fake kernel in this environment; identical plumbing either
    way), aggregated per (dtype, source-is-jpeg)."""
    from idb_backend_spark.functions.multimodal import generate_derivatives

    docs = _t(spark, sf_dir, "documents")
    blobs = _magic_blobs(docs)
    dv = generate_derivatives(blobs, fake=True)
    return (
        dv.withColumn("is_jpeg", F.col("id") % 4 == 0)
        .groupBy("dtype", "is_jpeg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("dtype", "is_jpeg")
    )


@query(
    "video_frame_sample",
    # the fake decoder derives metadata purely from the blob (duration =
    # octet_length, fps 25, width 320 + len%17), so the ENTIRE sampling
    # plan — stride arithmetic, frame indexing, row multiplication,
    # token derivation, schema — is SQL-mirrorable and graded; only the
    # pixel decode itself is the PyAV-gated kernel (unit-tested fake)
    "WITH src AS (SELECT doc_id, octet_length(encode(text)) AS nb "
    "  FROM documents WHERE text IS NOT NULL), "
    "f AS (SELECT doc_id, nb, unnest(generate_series(0, "
    "  CAST(ceil(nb / 200.0) AS BIGINT) - 1)) AS k FROM src WHERE nb > 0) "
    "SELECT doc_id AS media_id, CAST(k * 200 * 25 // 1000 AS INT) AS frame_idx, "
    "CAST(k * 200 AS BIGINT) AS ts_ms, "
    "CAST(320 + nb % 17 AS INT) AS width, CAST(240 AS INT) AS height, "
    "md5(CAST(doc_id AS VARCHAR) || ':' || "
    "  CAST(k * 200 * 25 // 1000 AS VARCHAR)) AS frame_token "
    "FROM f ORDER BY media_id, ts_ms",
)
def video_frame_sample(spark, sf_dir):
    """T10 video tier — uniform-stride frame sampling through the real
    mapInPandas plumbing (multimodal.sample_video_frames): each document
    body doubles as an opaque 'video' blob, the sampler multiplies it
    into one row per 200 ms frame with typed metadata and a stable
    frame token. The oracle rebuilds the sampling arithmetic in SQL, so
    stride/indexing/row-fanout drift anywhere in the UDF breaks the
    value hash. Scale: frames stream batch-wise out of the Arrow
    iterator — the corpus is never collected, and the output is the
    row-multiplied frame table a video training pipeline feeds to
    dedup/embedding stages."""
    from idb_backend_spark.functions.multimodal import sample_video_frames

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("data"),
    )
    out = sample_video_frames(
        docs, data_col="data", id_col="media_id",
        stride_ms=200, fps=25, fake=True,
    )
    return out.orderBy("media_id", "ts_ms")


def _etl_oracle_sql() -> str:
    """Full DuckDB replica of the composed ETL pipeline: geo normalize
    (structural replica), Molodensky shift (shared numeric CTE chain from
    plans.synth — real trig, hash-compared), and golden-CASE expectations
    for the vocabulary stages whose inputs are pure functions of
    l_linenumber (the blessed oracle style for table-lookup kernels)."""
    from idb_backend_spark.plans.synth import (
        MOLODENSKY_LAT_SQL,
        MOLODENSKY_LON_SQL,
        decimal_exponent_sql,
        molodensky_cte_chain,
        molodensky_flag_sql,
    )

    nflags = " + ".join(
        f"CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END"
        for c in ["f1", "f2", "f3", "datum_flag", "f4a", "f4b", "f5", "f6",
                  "f7", "f8", "f9"]
    )
    score = " + ".join(
        f"CAST({c} IS NOT NULL AS INT)"
        for c in ["lat_f", "datecollected", "basisofrecord", "taxonrank",
                  "license", "minelevation"]
    )
    return (
        "WITH src AS (SELECT "
        "  l_orderkey * 10 + l_linenumber AS rowid, "
        "  CASE WHEN l_orderkey % 13 = 9 THEN '0.0' ELSE "
        "    CAST((l_partkey % 160) - 80 AS VARCHAR(32)) || '.125' END AS lat_s, "
        "  CASE WHEN l_orderkey % 13 = 10 THEN "
        "    CAST(-((l_partkey % 160) - 80) AS VARCHAR(32)) || '.125' ELSE "
        "    CAST((l_suppkey % 360) - 180 AS VARCHAR(32)) || '.25' END AS lon_s, "
        "  l_shipdate AS eventdate, l_quantity AS qty, "
        "  l_orderkey % 13 AS ok13, "
        "  l_linenumber % 5 AS bm, l_linenumber % 4 AS rm, "
        "  l_linenumber % 3 AS lm, "
        "  CASE l_linenumber % 6 WHEN 0 THEN 'NAD27' WHEN 1 THEN 'WGS 72' "
        "    WHEN 2 THEN 'WGS84' WHEN 3 THEN 'Cape' ELSE NULL END AS datum_raw, "
        # F15 commonnames synth inputs — must mirror the Spark side's
        # vern_s / gbif_vern / vern_lower_s planting exactly
        "  CASE l_linenumber % 7 WHEN 0 THEN 'Bluebird' "
        "    WHEN 1 THEN ' Mountain  Lion ' ELSE NULL END AS vern, "
        "  CASE WHEN l_orderkey % 11 = 0 THEN 2 ELSE 0 END AS n_gbif, "
        "  CASE WHEN l_linenumber % 7 IN (1, 2) THEN 'wolf' "
        "    ELSE NULL END AS vlow "
        "  FROM lineitem), "
        "geo AS (SELECT *, CAST(lat_s AS DOUBLE) AS lat0, "
        "  CAST(lon_s AS DOUBLE) AS lon0, "
        "  " + decimal_exponent_sql("lat_s") + " AS latexp, "
        "  " + decimal_exponent_sql("lon_s") + " AS lonexp FROM src), "
        "gf AS (SELECT *, ((lat0 >= -180 AND lat0 < -90) OR (lat0 > 90 AND lat0 <= 180))"
        "  AND lon0 BETWEEN -90 AND 90 AS flip FROM geo), "
        "gv AS (SELECT *, CASE WHEN flip THEN lon0 ELSE lat0 END AS lat1, "
        "  CASE WHEN flip THEN lat0 ELSE lon0 END AS lon1 FROM gf), "
        "g AS (SELECT *, "
        "  lat1 < -90 OR lat1 > 90 OR lon1 < -180 OR lon1 > 180 AS oob, "
        "  CASE WHEN lat1 < -90 OR lat1 > 90 OR lon1 < -180 OR lon1 > 180 "
        "    THEN NULL ELSE lat1 END AS lat, "
        "  CASE WHEN lat1 < -90 OR lat1 > 90 OR lon1 < -180 OR lon1 > 180 "
        "    THEN NULL ELSE lon1 END AS lon FROM gv), "
        + molodensky_cte_chain("g")
        + ", e AS (SELECT *, "
        f"  round({MOLODENSKY_LAT_SQL}, 6) AS lat_f, "
        f"  round({MOLODENSKY_LON_SQL}, 6) AS lon_f, "
        # datum flags only apply when a geopoint survived normalization
        # (the 'have' guard in geo.with_molodensky_shift)
        "  CASE WHEN lat IS NOT NULL AND lon IS NOT NULL THEN "
        f"({molodensky_flag_sql()}) END AS datum_flag, "
        "  eventdate AS datecollected, "
        # minelevation is an ELEVGRABBER field — the
        # reference coerces it with locale.atof (conversions.py:336-356),
        # so a fractional token ("23.5 m", ok13=11 rows) KEEPS its
        # fraction as a float; a numberless token ('unknown', ok13=12
        # rows) stays NULL. The locale.atoi reject path belongs to
        # intGrabber's fields and is exercised by `version` below.
        "  CASE WHEN ok13 = 12 THEN NULL "
        "    WHEN ok13 = 11 THEN qty + 0.5 "
        "    ELSE CAST(qty AS DOUBLE) END AS minelevation, "
        # intGrabber (locale.atoi, conversions.py:359-394) on the
        # synthesized idigbio:version: the fractional '7.5' raises in
        # atoi so version stays NULL — never a truncation to 7
        "  CASE WHEN ok13 = 11 THEN NULL ELSE rowid % 10 END AS version, "
        "  CASE bm WHEN 0 THEN 'preservedspecimen' WHEN 1 THEN 'fossilspecimen' "
        "    WHEN 2 THEN 'machineobservation' END AS basisofrecord, "
        "  CASE rm WHEN 0 THEN 'species' WHEN 1 THEN 'species' END AS taxonrank, "
        "  CASE WHEN lm = 0 THEN 'CC4 BY' END AS license, "
        "  CASE WHEN flip AND NOT oob THEN 'geopoint_pre_flip' END AS f1, "
        "  CASE WHEN oob THEN 'geopoint_bounds' END AS f2, "
        "  CASE WHEN NOT oob AND (latexp <= 2 OR lonexp <= 2) "
        "    THEN 'geopoint_low_precision' END AS f3, "
        "  CASE WHEN eventdate IS NOT NULL AND (eventdate < TIMESTAMP '1500-01-02 00:00:00' "
        "    OR eventdate > now()) THEN 'datecollected_bounds' END AS f5, "
        "  CASE WHEN bm = 3 THEN 'dwc_basisofrecord_removed' END AS f6, "
        "  CASE WHEN bm IN (3, 4) THEN 'dwc_basisofrecord_invalid' END AS f7, "
        "  CASE WHEN rm = 1 THEN 'dwc_taxonrank_replaced' END AS f8, "
        "  CASE WHEN rm = 2 THEN 'dwc_taxonrank_removed' END AS f9 "
        "  FROM mgs), "
        # setFlags geopoint flags run on the FINAL (shifted, rounded)
        # geopoint, reference conversions.py:235-246 + :255-261
        "e2 AS (SELECT *, "
        "  CASE WHEN lat_f = 0 OR lon_f = 0 THEN 'geopoint_0_coord' END AS f4a, "
        "  CASE WHEN abs(lat_f) = abs(lon_f) THEN 'geopoint_similar_coord' END AS f4b "
        "  FROM e), "
        f"ff AS (SELECT *, ({nflags}) AS nflags FROM e2) "
        "SELECT rowid, lat_f AS lat, lon_f AS lon, datecollected, "
        "minelevation, version, basisofrecord, taxonrank, license, "
        # commonnames replica: verbatim seed (raw, unfolded) plus the
        # lowercase-key value once per gbif entry (conversions.py:818-835)
        # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
        # array_join([]) is '' — the engine's empty commonnames is []
        "coalesce(array_to_string("
        "  (CASE WHEN vern IS NOT NULL THEN [vern] "
        "     ELSE CAST([] AS VARCHAR[]) END) || "
        "  (CASE WHEN vlow IS NOT NULL AND n_gbif > 0 THEN [vlow, vlow] "
        "     ELSE CAST([] AS VARCHAR[]) END), '|'), '') AS commonnames, "
        "concat_ws('|', f1, f2, f3, datum_flag, f4a, f4b, f5, f6, f7, f8, f9) AS flags, "
        f"round(({score} - nflags) / 6.0, 6) AS dqs "
        "FROM ff ORDER BY rowid"
    )


def _etl_raw_frame(spark, sf_dir):
    """The etl pipeline's shared input stage: synthesized verbatim
    projection over the spread lineitem scan, staged geo normalization,
    and the Molodensky shift (why the flags read staged values:
    DESIGN.md, "Flag conditions evaluated once")."""
    # the enrichment stack costs ~10x its scan bytes; a narrow scan
    # strands every other core on the whole row-wise pipeline
    # (guarded: no exchange when the scan is wide)
    li = _t_spread(spark, sf_dir, "lineitem", "l_orderkey", "l_linenumber")
    lk = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    # synthesized verbatim fields (the reference reads these from raw DwC)
    raw = li.select(
        lk.alias("rowid"),
        # l_orderkey % 13 plants zero-lat rows (9) and
        # abs-equal lat/lon rows (10) so the setFlags geopoint flags
        # below actually fire on graded data
        F.when(F.col("l_orderkey") % 13 == 9, F.lit("0.0"))
        .otherwise(
            F.concat(
                (F.col("l_partkey") % 160 - 80).cast("string"), F.lit(".125")
            )
        )
        .alias("lat_s"),
        F.when(
            F.col("l_orderkey") % 13 == 10,
            F.concat(
                (-(F.col("l_partkey") % 160 - 80)).cast("string"),
                F.lit(".125"),
            ),
        )
        .otherwise(
            F.concat(
                (F.col("l_suppkey") % 360 - 180).cast("string"), F.lit(".25")
            )
        )
        .alias("lon_s"),
        F.col("l_shipdate").alias("eventdate"),
        F.year("l_shipdate").cast("string").alias("year_s"),
        F.month("l_shipdate").cast("string").alias("month_s"),
        # elevGrabber input (locale.atof, conversions.py:336-356):
        # integral rendering ("23 m") on most rows, fractional "23.5 m"
        # on ok13=11 rows (atof KEEPS the fraction), numberless
        # 'unknown' on ok13=12 rows (grabFirstNumber -> None -> NULL)
        F.when(
            F.col("l_orderkey") % 13 == 11,
            F.concat((F.col("l_quantity") + 0.5).cast("string"), F.lit(" m")),
        )
        .when(F.col("l_orderkey") % 13 == 12, F.lit("unknown"))
        .otherwise(
            F.concat(
                F.col("l_quantity").cast("bigint").cast("string"), F.lit(" m")
            )
        )
        .alias("elev_s"),
        # intGrabber input (idigbio:version, the reference's actual
        # locale.atoi field — conversions.py:359-364): fractional on the
        # same ok13=11 rows to exercise the atoi-reject path
        F.when(
            F.col("l_orderkey") % 13 == 11,
            F.concat(F.col("l_linenumber").cast("string"), F.lit(".5")),
        )
        .otherwise(F.col("l_linenumber").cast("string"))
        .alias("version_s"),
        F.expr(
            "CASE l_linenumber % 5 WHEN 0 THEN 'PreservedSpecimen' "
            "WHEN 1 THEN 'fossil' WHEN 2 THEN 'machine observation' "
            "WHEN 3 THEN 'Exsiccati' ELSE NULL END"
        ).alias("bor_s"),
        F.expr(
            "CASE l_linenumber % 4 WHEN 0 THEN 'species' WHEN 1 THEN 'Sp.' "
            "WHEN 2 THEN 'blah' ELSE NULL END"
        ).alias("rank_s"),
        F.expr(
            "CASE l_linenumber % 3 WHEN 0 THEN "
            "'http://creativecommons.org/licenses/by/4.0/' ELSE NULL END"
        ).alias("rights_s"),
        F.expr(
            "CASE l_linenumber % 6 WHEN 0 THEN 'NAD27' WHEN 1 THEN 'WGS 72' "
            "WHEN 2 THEN 'WGS84' WHEN 3 THEN 'Cape' ELSE NULL END"
        ).alias("datum_s"),
        # F15 commonnames inputs — grabAll composes collect_common_names
        # in the same enrichment pass (reference conversions.py:932-964,
        # assembly :818-835): the RAW mixed-case dwc:vernacularName (no
        # lower/trim fold — the planted whitespace must survive), a
        # gbif:vernacularName entry list, and the LOWERCASE-keyed value
        # the reference's gbif loop actually reads (absent on canonical
        # mixed-case publishers — linenumber%7==1 rows have it, ==0 not)
        F.expr(
            "CASE l_linenumber % 7 WHEN 0 THEN 'Bluebird' "
            "WHEN 1 THEN ' Mountain  Lion ' ELSE NULL END"
        ).alias("vern_s"),
        F.when(
            F.col("l_orderkey") % 11 == 0, F.array(F.lit("g1"), F.lit("g2"))
        ).alias("gbif_vern"),
        F.expr(
            "CASE WHEN l_linenumber % 7 IN (1, 2) THEN 'wolf' END"
        ).alias("vern_lower_s"),
    )
    from idb_backend_spark.functions.geo import with_molodensky_shift

    # staged normalization and staged shift: each binds its expensive
    # subexpressions once as columns — the parse subtree for the
    # normalize (codegen CSE skips CaseWhen branch contexts; 1.53 s ->
    # 0.94 s on this frame, DESIGN.md, "Coordinate parse staged once"),
    # the per-datum constants for the shift (janino 64 KB limit)
    raw = E.with_geo_normalize(raw, F.col("lat_s"), F.col("lon_s"))
    raw = with_molodensky_shift(
        raw, F.col("__geo_lat"), F.col("__geo_lon"), F.col("datum_s")
    )
    return raw


@query("etl_enrichment_pipeline", _etl_oracle_sql())
def etl_enrichment_pipeline(spark, sf_dir):
    """§3.3 composed — the full enrichment hot path over the fact table:
    verbatim projection, typed grabbers, geo normalization + flags, date
    fallback + bounds flag, BOR + taxon-rank vocabularies, license lookup,
    F15 commonnames assembly (collect_common_names composed here the way
    the reference's grabAll composes it, conversions.py:932-964 — raw
    unfolded vernacularName seed + the lowercase-key gbif loop quirk),
    flag folding, and dqs scoring — entirely native expressions (the
    reference's 1.33 ms/record Python loop, conversions.py:915-930).

    The DuckDB oracle replicates the numeric path (geo normalize +
    Molodensky trig via the shared plans.synth chain) structurally and
    states golden expectations for the vocabulary lookups (inputs are
    pure functions of l_linenumber). Coordinates are rounded to 6
    decimals on both engines for cross-libm hash stability. Throughput
    comparison against the reference's 750 rec/s/core figure comes from
    bench.py timing of this query at sf0.1 (~600k rows).
    """
    from idb_backend_spark.functions.flags import (
        dqs_score,
        fold_flags,
        standard_coord_flags,
    )
    from idb_backend_spark.functions.grabbers import (
        float_grabber,
        int_grabber,
    )

    raw = _etl_raw_frame(spark, sf_dir)
    bor = E.fix_basis_of_record(F.col("bor_s"))
    rank = E.fix_taxon_rank(F.col("rank_s"))
    dc = E.date_fallback(
        F.col("eventdate"), F.col("year_s"), F.col("month_s"),
        F.lit(None), F.lit(None),
    )
    # Two-stage value/flags split: the flag conditions
    # below read the STAGED value columns (datecollected, basisofrecord,
    # taxonrank — unconditional outputs computed once here) instead of
    # re-inlining the date_fallback tree and the bor/rank vocab chains
    # once per flag condition (a single-stage form carries 3
    # contains-chain + 2 date-tree copies; this one evaluates each
    # exactly once). The extra staged inputs the
    # flags still need are cheap: one bool (bor filled) and the folded
    # rank string. CollapseProject keeps the boundary because the value
    # columns are non-cheap and multi-referenced.
    values = raw.select(
        "rowid",
        F.col("lat_wgs84").alias("lat"),
        F.col("lon_wgs84").alias("lon"),
        dc.alias("datecollected"),
        # minelevation is an elevGrabber (locale.atof) field — float,
        # fraction kept; the atoi reject path runs on the reference's
        # real intGrabber field (version)
        float_grabber("elev_s").alias("minelevation"),
        int_grabber("version_s").alias("version"),
        bor["value"].alias("basisofrecord"),
        rank["value"].alias("taxonrank"),
        E.license_lookup(F.col("rights_s")).alias("license"),
        grabbers.collect_common_names(
            F.col("vern_s"), F.col("gbif_vern"), F.col("vern_lower_s")
        ).alias("commonnames"),
        F.col("__flag_pre_flip"), F.col("__flag_bounds"),
        F.col("__flag_low_precision"), F.col("datum_flag"),
        grabbers.getfield(F.col("bor_s")).isNotNull().alias("__bor_filled"),
        grabbers.getfield(F.col("rank_s")).alias("__rank_v"),
    )
    bor_f = E.bor_flags(
        F.col("__bor_filled"), F.col("basisofrecord")
    )
    rank_f = E.taxon_rank_flags(
        F.col("__rank_v"), F.col("taxonrank")
    )
    enriched = values.select(
        "rowid", "lat", "lon", "datecollected", "minelevation", "version",
        "basisofrecord", "taxonrank", "license", "commonnames",
        fold_flags(
            F.col("__flag_pre_flip"), F.col("__flag_bounds"),
            F.col("__flag_low_precision"), F.col("datum_flag"),
            # setFlags geopoint flags on the FINAL (shifted, rounded)
            # geopoint — F17 parity, conversions.py:235-246
            *standard_coord_flags(
                F.round(F.col("lat"), 6), F.round(F.col("lon"), 6)
            ),
            E.date_bounds_flag(F.col("datecollected")),
            bor_f["flag_removed"], bor_f["flag_invalid"],
            rank_f["flag_replaced"], rank_f["flag_removed"],
        ).alias("flags"),
    )
    scored = enriched.withColumn(
        "dqs",
        F.round(
            dqs_score(
                {"lat": 1, "datecollected": 1, "basisofrecord": 1,
                 "taxonrank": 1, "license": 1, "minelevation": 1},
                F.col("flags"),
                maxscore=6.0,
            ),
            6,
        ),
    )
    # pipe-join the flags array at the boundary (the driver's hash
    # canonicalizer cannot sort array-typed output columns); round the
    # shifted coordinates so JVM-vs-DuckDB libm ulp drift cannot surface
    return scored.withColumns(
        {
            "flags": F.array_join("flags", "|"),
            "commonnames": F.array_join("commonnames", "|"),
            "lat": F.round("lat", 6),
            "lon": F.round("lon", 6),
        }
    )


# Catalog entry `raw_field_access` retired to free a grading
# slot (catalog.py retirement rule). P13's raw-map addressing stays
# driver-graded through `records_typed_projection` (the whole typed
# projection is GetMapValue lookups out of the raw `data` map, schema-
# table-driven, incl. missing-key NULL folds); the row-PREDICATE form —
# the same GetMapValue expression inside a Filter — is pinned by
# tests/test_typed_schema.py::
# test_raw_map_dual_addressing_predicate_and_projection.


def _map_str(col: str):
    """map<string,long> -> key-sorted 'k:v,k:v' (the driver hasher can't
    sort map-typed columns; '' for an empty or null map)."""
    return F.coalesce(
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries(col)),
                lambda e: F.concat_ws(
                    ":", e["key"], e["value"].cast("string")
                ),
            ),
            ",",
        ),
        F.lit(""),
    ).alias(col)


@query(
    "stats_rollup_nested",
    # A7's FULL three-branch accumulation (collect.py:132-166):
    # event_type maps onto the reference's stats types (click->view,
    # view->seen, error->search). view: +1 everywhere, items only;
    # seen: also queries +1; search: payload direction flips — totals/
    # queries/geocodes accumulate record_count, NO items. The 'items'
    # column semantics ride along in the view/seen branches' items maps.
    "WITH ev AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
    "CASE event_type WHEN 'click' THEN 'view' WHEN 'view' THEN 'seen' "
    "ELSE 'search' END AS stats_type, "
    "CAST(user_id AS VARCHAR(32)) AS term, "
    "'q' || CAST(user_id % 5 AS VARCHAR(32)) AS qh, "
    "'{\"c\":' || CAST(user_id % 3 AS VARCHAR(32)) || '}' AS geo, "
    "1 + abs(event_id) % 4 AS rcount FROM events), "
    "w AS (SELECT day, stats_type, term, qh, geo, "
    "CASE WHEN stats_type IN ('view','seen') THEN 1 ELSE rcount END AS gw, "
    "CASE WHEN stats_type = 'seen' THEN 1 "
    "WHEN stats_type = 'search' THEN rcount END AS qw, "
    "CASE WHEN stats_type IN ('view','seen') THEN 1 END AS iw FROM ev), "
    "tot AS (SELECT day, stats_type, count(*) AS count, "
    "CAST(sum(gw) AS BIGINT) AS total FROM w GROUP BY 1, 2), "
    "i2 AS (SELECT day, stats_type, term, CAST(sum(iw) AS BIGINT) AS n "
    "FROM w WHERE iw IS NOT NULL GROUP BY 1, 2, 3), "
    "i3 AS (SELECT day, stats_type, string_agg(term || ':' || "
    "CAST(n AS VARCHAR(32)), ',' ORDER BY term) AS items "
    "FROM i2 GROUP BY 1, 2), "
    "q2 AS (SELECT day, stats_type, qh, CAST(sum(qw) AS BIGINT) AS n "
    "FROM w WHERE qw IS NOT NULL GROUP BY 1, 2, 3), "
    "q3 AS (SELECT day, stats_type, string_agg(qh || ':' || "
    "CAST(n AS VARCHAR(32)), ',' ORDER BY qh) AS queries "
    "FROM q2 GROUP BY 1, 2), "
    "g2 AS (SELECT day, stats_type, geo, CAST(sum(gw) AS BIGINT) AS n "
    "FROM w GROUP BY 1, 2, 3), "
    "g3 AS (SELECT day, stats_type, string_agg(geo || ':' || "
    "CAST(n AS VARCHAR(32)), ',' ORDER BY geo) AS geocodes "
    "FROM g2 GROUP BY 1, 2) "
    "SELECT t.day, t.stats_type, t.count, t.total, "
    "coalesce(i3.items, '') AS items, coalesce(q3.queries, '') AS queries, "
    "coalesce(g3.geocodes, '') AS geocodes "
    "FROM tot t "
    "LEFT JOIN i3 ON t.day = i3.day AND t.stats_type = i3.stats_type "
    "LEFT JOIN q3 ON t.day = q3.day AND t.stats_type = q3.stats_type "
    "LEFT JOIN g3 ON t.day = g3.day AND t.stats_type = g3.stats_type "
    "ORDER BY t.day, t.stats_type",
)
def stats_rollup_nested_q(spark, sf_dir):
    """A7 (full shape) — the three-branch usage-stats accumulation
    (collect_stats, collect.py:132-166) via
    aggregates.usage_stats_rollup: view/seen/search branch weighting,
    items/queries/geocodes frequency maps, geocode keys
    pre-canonicalized. Maps serialize key-sorted at the boundary."""
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id")
    stats = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        F.when(F.col("event_type") == "click", "view")
        .when(F.col("event_type") == "view", "seen")
        .otherwise("search")
        .alias("stats_type"),
        uid.cast("string").alias("term"),
        F.concat(F.lit("q"), (uid % 5).cast("string")).alias("query_hash"),
        F.concat(
            F.lit('{"c":'), (uid % 3).cast("string"), F.lit("}")
        ).alias("geocode"),
        (F.lit(1) + F.abs(F.col("event_id")) % 4).alias("record_count"),
    )
    out = agg.usage_stats_rollup(stats, ["day", "stats_type"])
    return out.select(
        "day",
        "stats_type",
        "count",
        F.col("total").cast("long").alias("total"),
        _map_str("items"),
        _map_str("queries"),
        _map_str("geocodes"),
    ).orderBy("day", "stats_type")


def _relations_oracle_sql() -> str:
    """Golden replica of the relationsGrabber assembly over the
    synthesized links/siblings/parent inputs (the blessed oracle style
    for table-lookup kernels): the CASE arms restate the reference's
    branch outcomes — links' elif blocks sibling fallback, links text is
    the first-link uuid VERBATIM (uppercase hex preserved — grabFirstUUID
    does no case fold, conversions.py:319-331), siblings
    are verbatim, the parent override wins everywhere — composed with
    the original hasMedia/hasSpecimen lineitem-link booleans AND the P14
    presence flag taken from the relations output itself:

    * ``hasImage`` restates conversions.py:674-678 — true iff a branch
      was taken and its map had the mediarecord key, EVEN when every
      link in it lacked a uuid (the k%12=3 planted rows: the extracted
      list is empty, not None, so the reference reports true; the old
      ``size > 0`` engine form wrongly reported false)."""
    k = "o_orderkey"
    uuid_a = f"'ABCDEF00-0000-0000-0000-' || lpad(CAST({k} % 1000000 AS VARCHAR), 12, '0')"
    uuid_b = f"'ABCDEF11-0000-0000-1111-' || lpad(CAST({k} % 1000000 AS VARCHAR), 12, '0')"
    return (
        "WITH links AS (SELECT o.o_orderkey, "
        "  (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey"
        "   AND l.l_returnflag = 'R') AS n_media, "
        "  (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey"
        "   AND l.l_returnflag = 'N') AS n_spec "
        "  FROM orders o) "
        "SELECT o_orderkey, n_media > 0 AS hasMedia, n_spec > 0 AS hasSpecimen, "
        f"{k} % 3 < 2 AS hasImage, "  # mediarecord key present under the taken branch
        f"CASE WHEN {k} % 4 = 0 THEN 'parent-rs-' || CAST({k} % 100 AS VARCHAR) "
        f"  WHEN {k} % 6 = 0 THEN NULL "  # key missing under links; elif blocks siblings
        f"  WHEN {k} % 3 = 0 THEN {uuid_a} "
        f"  WHEN {k} % 3 = 1 THEN 'RS-' || CAST({k} AS VARCHAR) || ' Verbatim' "
        "  ELSE NULL END AS recordset, "
        f"CASE WHEN {k} % 12 = 3 THEN '' "  # all links uuid-less -> EMPTY list, not None
        f"  WHEN {k} % 3 = 0 THEN {uuid_b} "  # the no-uuid link is dropped
        f"  WHEN {k} % 3 = 1 THEN 'sib-1|sib-2' "
        "  ELSE NULL END AS mediarecords "
        "FROM links ORDER BY o_orderkey"
    )


@query("media_presence_flags", _relations_oracle_sql())
def media_presence_flags_q(spark, sf_dir):
    """F9/P14 — the FULL relationsGrabber assembly (conversions.py:
    632-680): per-type relation columns from synthesized
    idigbio:links / idigbio:siblings maps + the idigbio:parent override
    (functions.finalize.relations_grabber — links' elif blocks sibling
    fallback; links text = grabFirstUUID(first), siblings verbatim;
    non-uuid links dropped from lists), composed with the original
    hasMedia/hasSpecimen presence booleans from lineitem-derived link
    arrays AND the P14 hasImage flag taken from the relations output
    (conversions.py:674-678 — presence = not-None, so the planted
    k%12=3 rows whose mediarecord links are ALL uuid-less yield an
    empty list and hasImage=true). The uuid prefixes carry hex LETTERS
    so the grabber's verbatim-case behavior is actually exercised
    (grabFirstUUID preserves case)."""
    from idb_backend_spark.functions.finalize import (
        media_presence_flags,
        relations_grabber,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    media_links = li.filter(F.col("l_returnflag") == "R").groupBy(
        F.col("l_orderkey").alias("o_orderkey")
    ).agg(F.collect_list("l_linenumber").alias("mediarecords"))
    spec_links = li.filter(F.col("l_returnflag") == "N").groupBy(
        F.col("l_orderkey").alias("o_orderkey")
    ).agg(F.collect_list("l_linenumber").alias("records"))
    joined = orders.select("o_orderkey").join(media_links, "o_orderkey", "left").join(
        spec_links, "o_orderkey", "left"
    )
    flags = media_presence_flags(F.col("mediarecords"), F.col("records"))

    # synthesized relationsGrabber inputs (pure functions of the key;
    # UPPERCASE hex in the uuids so a case fold would show — grabFirstUUID
    # must preserve the match verbatim)
    k = F.col("o_orderkey")
    pad = F.lpad((k % 1000000).cast("string"), 12, "0")
    link_a = F.concat(
        F.lit("https://api.example.org/v2/view/recordsets/ABCDEF00-0000-0000-0000-"),
        pad,
    )
    link_b = F.concat(
        F.lit("https://api.example.org/v2/view/mediarecords/ABCDEF11-0000-0000-1111-"),
        pad,
    )
    full_links = F.create_map(
        F.lit("recordset"), F.array(link_a),
        F.lit("mediarecord"), F.array(link_b, F.lit("https://no-uuid")),
    )
    # k%6==0 rows: links WITHOUT the recordset key AND a siblings map
    # that must be ignored — proves the elif blocks the fallback
    partial_links = F.create_map(
        F.lit("mediarecord"), F.array(link_b, F.lit("https://no-uuid"))
    )
    # k%12==3 rows: mediarecord links ALL uuid-less -> relationsGrabber
    # emits the EMPTY list (conversions.py:656-657), and the reference's
    # is-not-None presence test still reports hasImage=true (P14 edge)
    nouuid_links = F.create_map(
        F.lit("recordset"), F.array(link_a),
        F.lit("mediarecord"), F.array(F.lit("https://no-uuid")),
    )
    sib_map = F.create_map(
        F.lit("recordset"),
        F.array(F.concat(F.lit("RS-"), k.cast("string"), F.lit(" Verbatim"))),
        F.lit("mediarecord"), F.array(F.lit("sib-1"), F.lit("sib-2")),
    )
    links_col = F.when(
        k % 3 == 0,
        F.when(k % 6 == 0, partial_links)
        .when(k % 12 == 3, nouuid_links)
        .otherwise(full_links),
    )
    sibs_col = F.when((k % 3 == 1) | (k % 6 == 0), sib_map)
    parent_col = F.when(
        k % 4 == 0,
        F.concat(F.lit("parent-rs-"), (k % 100).cast("string")),
    )
    rel = relations_grabber("records", links_col, sibs_col, parent_col)
    # P14 parity column: presence from the relations output itself, the
    # way conversions.py:676-678 derives it — not-None, never size>0
    rel_flags = media_presence_flags(
        rel["mediarecords"], F.lit(None).cast("array<string>")
    )
    return joined.select(
        "o_orderkey",
        flags["hasMedia"].alias("hasMedia"),
        flags["hasSpecimen"].alias("hasSpecimen"),
        rel_flags["hasImage"].alias("hasImage"),
        rel["recordset"].alias("recordset"),
        F.array_join(rel["mediarecords"], "|").alias("mediarecords"),
    ).orderBy("o_orderkey")


@query(
    "identifier_extraction",
    # F23 — the FULL identifier_fields table (db_check.py:64-87) in
    # TABLE order: recordId, recordID, ResourceRelationship (idFromRR —
    # FIRST element only, representedIn verbatim / sameAs namespaced /
    # other-or-missing nothing), occurrenceID ns, id ns, ID ns; plus the
    # Multimedia table with the UConn exception (providerManagedID
    # skipped when dcterms:identifier equals it case-insensitively,
    # db_check.py:156-159). Pipe-joined (the driver hasher can't sort
    # arrays); concat_ws skips NULL arms exactly like array_compact.
    "SELECT o_orderkey, concat_ws('|', "
    "lower(trim(o_orderpriority)), "
    "CASE WHEN o_orderkey % 7 = 0 THEN 'cap-' || CAST(o_orderkey AS VARCHAR(32)) END, "
    "CASE CAST(o_orderkey % 5 AS INT) "
    "WHEN 0 THEN 'rr-' || CAST(o_orderkey AS VARCHAR(32)) "
    "WHEN 1 THEN 'rs' || CAST(o_custkey % 10 AS VARCHAR(32)) || '\\' || "
    "'rr-' || CAST(o_orderkey AS VARCHAR(32)) END, "
    "'rs' || CAST(o_custkey % 10 AS VARCHAR(32)) || '\\urn:cat:' || "
    "CAST(o_orderkey AS VARCHAR(32)), "
    "CASE WHEN o_orderkey % 3 = 0 THEN "
    "'rs' || CAST(o_custkey % 10 AS VARCHAR(32)) || '\\bare' || "
    "CAST(o_orderkey AS VARCHAR(32)) END, "
    "CASE WHEN o_orderkey % 11 = 0 THEN "
    "'rs' || CAST(o_custkey % 10 AS VARCHAR(32)) || '\\bare' || "
    "CAST(o_orderkey AS VARCHAR(32)) END"
    ") AS ids, concat_ws('|', "
    "lower(trim(o_orderpriority)), "
    "CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 4 <> 0 THEN "
    "'pm-' || CAST(o_orderkey AS VARCHAR(32)) END, "
    "CASE WHEN o_orderkey % 4 = 0 THEN "
    "'rs' || CAST(o_custkey % 10 AS VARCHAR(32)) || '\\media\\pm-' || "
    "CAST(o_orderkey AS VARCHAR(32)) "
    "WHEN o_orderkey % 4 = 2 THEN "
    "'rs' || CAST(o_custkey % 10 AS VARCHAR(32)) || '\\media\\dc-' || "
    "CAST(o_orderkey AS VARCHAR(32)) END"
    ") AS media_ids FROM orders ORDER BY o_orderkey",
)
def identifier_extraction(spark, sf_dir):
    """F23 — the full identifyRecord table: Occurrence arms in table
    order incl. the idFromRR first-element-only bug, and the Multimedia
    arms incl. the UConn exception (db_check.py:64-165)."""
    from idb_backend_spark.functions.finalize import (
        media_identifiers,
        record_identifiers,
    )

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ks = k.cast("string")
    rsid = F.concat(F.lit("rs"), (F.col("o_custkey") % 10).cast("string"))
    occ = F.concat(F.lit("URN:CAT:"), ks)
    rec_cap = F.when(k % 7 == 0, F.concat(F.lit("CAP-"), ks))
    bare = F.when(k % 3 == 0, F.concat(F.lit("bare"), ks))
    bare_cap = F.when(k % 11 == 0, F.concat(F.lit("BARE"), ks))

    def rr_el(rid, rel):
        return F.struct(
            rid.alias("relatedResourceID"),
            rel.alias("relationshipOfResource"),
        )

    snul = F.lit(None).cast("string")
    rr = (
        F.when(k % 5 == 0, F.array(rr_el(F.concat(F.lit("RR-"), ks),
                                         F.lit("representedIn"))))
        .when(k % 5 == 1, F.array(rr_el(F.concat(F.lit("RR-"), ks),
                                        F.lit("sameAs"))))
        # first element lacks the keys; the LATER matching element must
        # be ignored (idFromRR returns on its first iteration)
        .when(k % 5 == 2, F.array(rr_el(snul, snul),
                                  rr_el(F.concat(F.lit("LATER-"), ks),
                                        F.lit("representedIn"))))
        # a non-representedIn/sameAs relationship yields nothing
        .when(k % 5 == 3, F.array(rr_el(F.concat(F.lit("RR-"), ks),
                                        F.lit("isRelatedTo"))))
    )
    pm = F.when(k % 2 == 0, F.concat(F.lit("PM-"), ks))
    dct = F.when(k % 4 == 0, F.concat(F.lit("pm-"), ks)).when(
        k % 4 == 2, F.concat(F.lit("DC-"), ks)
    )
    return orders.select(
        "o_orderkey",
        F.array_join(
            record_identifiers(
                rsid, occ, F.col("o_orderpriority"), bare,
                record_id_cap=rec_cap,
                resource_relationship=rr,
                bare_id_cap=bare_cap,
            ),
            "|",
        ).alias("ids"),
        F.array_join(
            media_identifiers(rsid, F.col("o_orderpriority"), pm, dct),
            "|",
        ).alias("media_ids"),
    ).orderBy("o_orderkey")


@query(
    "duplicate_clusters",
    # chains of 5: edges (i, i+1) unless i%5==4 -> cluster = 5*floor(i/5)
    "SELECT doc_id, CAST(doc_id // 5 * 5 AS BIGINT) AS cluster "
    "FROM documents ORDER BY doc_id",
)
def duplicate_clusters_q(spark, sf_dir):
    """Connected components over dup pairs (min-label propagation). The
    synthetic edge set is chains of five consecutive doc_ids, so the
    closed-form cluster id is an exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    pairs = docs.filter(F.col("doc_id") % 5 != 4).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    verts = docs.select("doc_id")
    out = dedup.duplicate_clusters(pairs, vertices=verts)
    return out.select(F.col("id").alias("doc_id"), "cluster").orderBy("doc_id")




# --------------------------------------------------------------------------
# S1/S2/S4/S9/S10 round-trips — the source readers and export writers
# driven end-to-end INSIDE a driver-graded query: write an archive from
# the parquet tables, read it back through the engine's readers, and let
# the oracle be the plain projection of the original tables. Temp dirs
# are reclaimed at interpreter exit (_tmpdir): the returned DataFrame
# reads the extracted files lazily (collection happens in the caller).
# --------------------------------------------------------------------------


@query(
    "dwca_roundtrip",
    "SELECT c.c_custkey, c.c_name AS catalog_number, "
    "c.c_mktsegment AS collection_code, "
    "CAST(c.c_acctbal AS VARCHAR(32)) AS acctbal_s, "
    "CAST(coalesce(o.n, 0) AS BIGINT) AS n_media "
    "FROM customer c LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders "
    "WHERE o_custkey <= 300 AND o_orderkey % 3 = 0 GROUP BY o_custkey) o "
    "ON o.o_custkey = c.c_custkey WHERE c.c_custkey <= 300 "
    "ORDER BY c.c_custkey",
)
def dwca_roundtrip(spark, sf_dir):
    """S10→S1 (+J7 shape): write a DwC-A zip (core occurrence member +
    multimedia extension + citations, generated meta.xml), re-open it with
    DwcaArchive, read core and extension back, and left-join media counts
    per core id — reference download.py:457-474 (writer) and dwca.py
    (reader). The oracle sees only the original tables: any loss or
    corruption in the CSV shaping, meta.xml term URIs, header handling, or
    blank→null normalization breaks the value hash."""
    import os

    from idb_backend_spark.export.writers import write_dwca
    from idb_backend_spark.sources.dwca import DwcaArchive

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    core = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("dwc:catalogNumber"),
        F.col("c_mktsegment").alias("dwc:collectionCode"),
        F.col("c_acctbal").cast("string").alias("dwc:decimalLatitude"),
    )
    ext = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_custkey") <= 300) & (F.col("o_orderkey") % 3 == 0))
        .select(
            F.col("o_custkey").alias("coreid"),
            F.col("o_orderstatus").alias("ac:accessURI"),
        )
    )
    workdir = _tmpdir("dwca_rt_")
    zip_path = os.path.join(workdir, "archive.zip")
    write_dwca(
        zip_path,
        (core, "id",
         ["dwc:catalogNumber", "dwc:collectionCode", "dwc:decimalLatitude"],
         "records"),
        extensions=[(ext, "coreid", ["ac:accessURI"], "mediarecords")],
        citations="dwca_roundtrip test archive",
    )
    arch = DwcaArchive(zip_path)
    rcore = arch.read_core(spark)
    n_media = (
        arch.read_extension(spark)
        .groupBy("coreid")
        .agg(F.count(F.lit(1)).alias("n_media"))
    )
    return (
        rcore.join(n_media, rcore["id"] == n_media["coreid"], "left")
        .select(
            rcore["id"].cast("bigint").alias("c_custkey"),
            F.col("`dwc:catalogNumber`").alias("catalog_number"),
            F.col("`dwc:collectionCode`").alias("collection_code"),
            F.col("`dwc:decimalLatitude`").alias("acctbal_s"),
            F.coalesce(F.col("n_media"), F.lit(0)).cast("bigint").alias("n_media"),
        )
        .orderBy("c_custkey")
    )


@query(
    "delimited_roundtrip",
    "SELECT s_suppkey, s_name AS recorded_by, "
    "CAST(s_acctbal AS VARCHAR(32)) AS lat_s, "
    "CAST(s_nationkey AS VARCHAR(8)) AS country_s, "
    "CAST(FALSE AS BOOLEAN) AS corrupt "
    "FROM supplier ORDER BY s_suppkey",
)
def delimited_roundtrip(spark, sf_dir):
    """S9→S2/S3/F21: export a TSV with VERBATIM provider headers
    (``Collector``, ``DecimalLatitude``, ``Country``, plus an
    ``Annotations`` bookkeeping column), then read it back through
    read_delimited — which must canonicalize the headers through the full
    term-translate table (Collector→dwc:recordedBy, …), DROP the
    registry-flagged Annotations column, and mark zero corrupt rows
    (reference delimited.py:256-305, fieldnames.py:594-631)."""
    import os

    from idb_backend_spark.export.writers import write_csv_member
    from idb_backend_spark.sources.delimited import read_delimited

    src = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("recorded_by"),
        F.col("s_acctbal").cast("string").alias("lat_s"),
        F.col("s_nationkey").cast("string").alias("country_s"),
        F.lit("provider-junk").alias("notes"),
    )
    d = _tmpdir("delim_rt_")
    path = os.path.join(d, "provider.tsv")
    write_csv_member(
        src, path, "id",
        ["recorded_by", "lat_s", "country_s", "notes"],
        tsv=True,
        header_names={
            "recorded_by": "Collector",
            "lat_s": "DecimalLatitude",
            "country_s": "Country",
            "notes": "Annotations",
        },
    )
    back = read_delimited(spark, path, sep="\t")
    if "Annotations" in back.columns or "notes" in back.columns:
        # explicit raise, not assert: python -O strips asserts, and this
        # drop contract must fail loudly as a graded error either way
        raise ValueError(
            "registry-flagged Annotations column survived the roundtrip"
        )
    return back.select(
        F.col("id").cast("bigint").alias("s_suppkey"),
        F.col("`dwc:recordedBy`").alias("recorded_by"),
        F.col("`dwc:decimalLatitude`").alias("lat_s"),
        F.col("`dwc:country`").alias("country_s"),
        F.col("flag_corrupt_row").alias("corrupt"),
    ).orderBy("s_suppkey")


@query(
    "eml_harvest",
    # one synthesized EML per nation row cycling through the reference's
    # SIX rights shapes (eml.py:66-98 precedence + the two sentinels of
    # eml.py:100-109): 0 symbiota-additionalMetadata URL beating a live
    # dataset citetitle, 1 citetitle inside prose, 2 ALA last-section
    # para, 3 bare para URL, 4 non-key para prose with broken citetitle
    # -> Unknown sentinel, 5 para starting with <ulink> (.text None) ->
    # No-license sentinel. web_address pins the always-set '' quirk
    # (eml.py:62-66); n_contacts pins the ineffective seen_emails dedup
    # (duplicate-email creator+contact both emitted, eml.py:131-155)
    "SELECT n_nationkey, 'Collection ' || n_name AS collection_name, "
    "'Specimens from ' || n_name || '.' AS description, "
    "CASE CAST(n_nationkey % 6 AS INT) "
    "WHEN 0 THEN 'CC3 BY-NC' WHEN 1 THEN 'CC0' WHEN 2 THEN 'CC3 BY' "
    "WHEN 3 THEN 'CC4 BY' "
    "WHEN 4 THEN 'Unknown License, assume Public Domain' "
    "ELSE 'No license, assume Public Domain' END AS rights, "
    "'Curator' || CAST(n_nationkey AS VARCHAR(8)) AS contact_last, "
    "CASE WHEN n_nationkey % 2 = 0 THEN 'Curator' END AS contact_role, "
    "CAST(2 AS INT) AS n_contacts, "
    "CASE CAST(n_nationkey % 6 AS INT) "
    "WHEN 0 THEN 'http://sym' || CAST(n_nationkey AS VARCHAR(8)) "
    "|| '.example.org' "
    "WHEN 1 THEN 'http://inst' || CAST(n_nationkey AS VARCHAR(8)) "
    "|| '.example.org' "
    "WHEN 3 THEN 'http://inst' || CAST(n_nationkey AS VARCHAR(8)) "
    "|| '.example.org' "
    "WHEN 5 THEN 'http://inst' || CAST(n_nationkey AS VARCHAR(8)) "
    "|| '.example.org' "
    "ELSE '' END AS web_address "
    "FROM nation ORDER BY n_nationkey",
)
def eml_harvest(spark, sf_dir):
    """S4 — EML metadata harvest: one synthesized EML document per
    recordset (nation row), parsed driver-side by parse_eml exactly like
    the reference's per-recordset metadata fetch (eml.py; metadata is
    KB-scale and per-publisher — a driver loop is the right shape, the
    reference's is too), then assembled into a DataFrame. The six
    synthesized rights shapes cover every arm of the reference's
    location precedence (eml.py:66-98); the oracle reconstructs the
    expected parse fields in SQL."""
    from idb_backend_spark.sources.eml import parse_eml

    nations = (
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect()
    )
    rows = []
    for r in sorted(nations, key=lambda x: x["n_nationkey"]):
        n = int(r["n_nationkey"])
        name = r["n_name"]
        shape = n % 6
        # dataset-level IR per shape (shape 0 ALSO carries a live
        # citetitle that the symbiota location must beat)
        ir = {
            0: "<intellectualRights><para>Licensed as"
            '<ulink url="http://x"><citetitle>CC BY (Attribution)'
            "</citetitle></ulink></para></intellectualRights>",
            1: "<intellectualRights><para>To the extent possible under "
            'law the publisher has waived all rights<ulink url="http://x">'
            "<citetitle>CC0 1.0 (Public-domain)</citetitle></ulink>"
            "for any purpose.</para></intellectualRights>",
            2: "<intellectualRights>"
            "<section><title>Rights</title><para>Cite the source."
            "</para></section>"
            "<section><title>License</title><para>Creative Commons "
            "Attribution Australia 3.0</para></section>"
            "</intellectualRights>",
            3: "<intellectualRights><para>"
            "http://creativecommons.org/licenses/by/4.0/"
            "</para></intellectualRights>",
            4: f"<intellectualRights><para>All rights reserved by {name}."
            '<ulink url="http://x"><citetitle/></ulink></para>'
            "</intellectualRights>",
            5: '<intellectualRights><para><ulink url="http://x">'
            "<citetitle/></ulink></para></intellectualRights>",
        }[shape]
        dist = (
            f"<distribution><online><url>http://inst{n}.example.org"
            "</url></online></distribution>"
            if shape in (1, 3, 5)
            else ""
        )
        sym = (
            "<additionalMetadata><metadata><symbiota><collection>"
            "<intellectualRights>"
            "http://creativecommons.org/licenses/by-nc/3.0/"
            "</intellectualRights>"
            f"<onlineUrl>http://sym{n}.example.org</onlineUrl>"
            "</collection></symbiota></metadata></additionalMetadata>"
            if shape == 0
            else ""
        )
        role = "<positionName>Curator</positionName>" if n % 2 == 0 else ""
        xml = (
            '<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1">'
            "<dataset>"
            f"<title>Collection {name}</title>"
            "<creator><individualName>"
            f"<surName>Curator{n}</surName></individualName>"
            f"<electronicMailAddress>c{n}@example.org"
            f"</electronicMailAddress>{role}</creator>"
            # duplicate-email contact element: the reference's
            # seen_emails bookkeeping never suppresses the append
            "<contact><individualName>"
            f"<surName>Curator{n}</surName></individualName>"
            f"<electronicMailAddress>c{n}@example.org"
            "</electronicMailAddress></contact>"
            f"<abstract><para>Specimens from {name}.</para></abstract>"
            f"{ir}{dist}</dataset>{sym}</eml:eml>"
        )
        md = parse_eml(xml)
        first = md["contacts"][0] if md["contacts"] else {}
        rows.append(
            (
                n,
                md["collection_name"],
                md["collection_description"],
                md["data_rights"],
                first.get("last_name"),
                first.get("role"),
                len(md["contacts"]),
                md["institution_web_address"],
            )
        )
    return spark.createDataFrame(
        rows,
        "n_nationkey bigint, collection_name string, description string, "
        "rights string, contact_last string, contact_role string, "
        "n_contacts int, web_address string",
    ).orderBy("n_nationkey")


@query(
    "object_store_roundtrip",
    # plus the media API response assembly over the landed
    # objects (v2_media.py:29-77 via query/views.py): storage url,
    # deriv url (always .jpg, derivatives-gated), and the preview state
    # machine with its missing-mime-before-pending precedence
    "SELECT doc_id, md5(text) AS retrieved_md5, "
    "'https://s.idigbio.org/idigbio-images-prod/' || md5(text) AS media_url, "
    "CASE WHEN doc_id % 3 = 0 THEN "
    "  'https://s.idigbio.org/idigbio-images-prod-thumbnail/' || md5(text) "
    "  || '.jpg' END AS thumb_url, "
    "CASE WHEN doc_id % 3 = 0 THEN NULL "
    "     WHEN doc_id % 5 = 0 OR doc_id % 7 = 0 THEN 'No Preview' "
    "     WHEN doc_id % 4 = 0 THEN 'Preview Pending' "
    "     ELSE 'No Preview' END AS preview_text, "
    "CASE WHEN doc_id % 3 = 0 THEN 345600 "
    "     WHEN doc_id % 5 = 0 OR doc_id % 7 = 0 THEN 86400 "
    "     WHEN doc_id % 4 = 0 THEN 600 "
    "     ELSE 86400 END AS cache_s "
    "FROM documents WHERE doc_id <= 200 ORDER BY doc_id",
)
def object_store_roundtrip(spark, sf_dir):
    """S12 — content-addressed media landing through the ObjectStore
    (reference idb/helpers/storage.py): each partition puts its blobs via
    put_media (key = md5 etag), then downloads them back with digest
    verification. Runs DISTRIBUTED (mapInPandas, one store client per
    batch — the executor-side shape the S3 backend needs); the oracle only
    knows md5(text), so any loss in the store round-trip diverges.

    The slot also grades the media API response assembly over the
    landed rows (v2_media.py:29-77, query/views.py): the storage URL
    from the retrieved etag, a thumbnail URL gated on a planted
    derivatives flag (NULL when not generated; .jpg always), and the
    preview text/cache state with planted NULL-mime (%5), NULL-type
    (%7) and never-downloaded (%4) arms — the %5/%7 rows pin that the
    missing-mime arm outranks 'Preview Pending'."""
    import pandas as pd  # noqa: F811

    from idb_backend_spark.sources.objectstore import (
        LocalFSBackend,
        ObjectStore,
        md5_hex,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 200)
        .select("doc_id", "text")
    )
    root = _tmpdir("objstore_rt_")

    def put_get(batches):
        store = ObjectStore(LocalFSBackend(root))
        for pdf in batches:
            out = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                data = str(txt).encode("utf-8")
                ref = store.put_media(data, mtype="images")
                back = store.get_bytes(ref.bucket, ref.key, md5=ref.etag)
                out.append((int(did), md5_hex(back)))
            yield pd.DataFrame(out, columns=["doc_id", "retrieved_md5"])

    from idb_backend_spark.query import views as V

    rt = docs.mapInPandas(put_get, "doc_id bigint, retrieved_md5 string")
    k = F.col("doc_id")
    etag = F.col("retrieved_md5")
    derivs = (k % 3 == 0).alias("__derivs")
    mime = F.when(k % 5 == 0, F.lit(None).cast("string")).otherwise(
        F.lit("image/jpeg")
    )
    tob = F.when(k % 7 == 0, F.lit(None).cast("string")).otherwise(
        F.lit("images")
    )
    status = F.when(~(k % 4 == 0), F.lit(200)).cast("int")
    thumb = V.media_storage_url(F.lit("images"), etag, derivs, "thumbnail")
    state = V.preview_state(thumb, mime, tob, status)
    return rt.select(
        "doc_id",
        "retrieved_md5",
        V.media_storage_url(F.lit("images"), etag).alias("media_url"),
        thumb.alias("thumb_url"),
        state["text"].alias("preview_text"),
        state["cache"].alias("cache_s"),
    ).orderBy("doc_id")


@query(
    "index_sink_roundtrip",
    "SELECT l_returnflag, count(*) AS n, "
    "CAST(sum(l_quantity) AS DOUBLE) AS sum_qty "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
)
def index_sink_roundtrip(spark, sf_dir):
    """S8 — the partitioned/clustered analytical sink (the ES bulk-index
    analog): write lineitem partitioned by l_returnflag and clustered by
    l_orderkey via write_index_table, read the table back, and aggregate
    per partition value. Any row lost or duplicated by the layout write
    (repartition + sortWithinPartitions + partitionBy + bounded files)
    breaks the count/sum oracle."""

    from idb_backend_spark.export.sink import write_index_table

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    path = _tmpdir("sink_rt_") + "/t"
    write_index_table(
        li, path, partition_by=["l_returnflag"], cluster_by=["l_orderkey"],
        max_records_per_file=50_000,
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "keyset_deep_page",
    # the keyset continuation for a deep page: strictly after the last
    # key of the previous page, one page worth, key order
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey > 1200 "
    "ORDER BY c_custkey LIMIT 50",
)
def keyset_deep_page(spark, sf_dir):
    """O1 (scale path) — keyset-continuation pagination: page N is a
    pushed-down range predicate + limit, costing the same as page 1
    (LIMIT/OFFSET materializes an offset-sized prefix; the reference's
    uuid-ordered listings, db.py:357-379, enable exactly this
    continuation)."""
    from idb_backend_spark.operators.aggregates import keyset_page

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return keyset_page(cust, "c_custkey", after=1200, limit=50)


# --------------------------------------------------------------------------
# Mediaing maintenance — media-URL discovery diff, fetch eligibility,
# HTML error-page classification (operators/mediaing.py; reference
# idigbio_ingestion/mediaing/{updatedb.py:56-104, fetcher.py:203-235,
# :494-502}). One frame: the post-discovery media table with its next
# fetch plan.
# --------------------------------------------------------------------------

def _mediaing_oracle() -> str:
    base = (
        "'http://h' || CAST(p_partkey % 5 AS VARCHAR) || '/m/' || "
        "CAST(p_partkey % 200 AS VARCHAR)"
    )
    return (
        f"WITH rec AS (SELECT p_partkey AS k, {base} AS base FROM part), "
        "r2 AS (SELECT k, "
        "  CASE CAST(k % 11 AS INT) WHEN 0 THEN NULL WHEN 1 THEN '' "
        "    WHEN 2 THEN ' ' || base || '&amp;x=1 ' "
        "    WHEN 3 THEN 'http://www.tropicos.org/' || CAST(k AS VARCHAR) "
        "    ELSE base END AS au, "
        "  CASE CAST(k % 4 AS INT) WHEN 0 THEN 'images' WHEN 1 THEN 'sounds' "
        "    WHEN 2 THEN NULL ELSE '' END AS t, "
        "  CASE CAST(k % 6 AS INT) WHEN 0 THEN 'image/jpeg' WHEN 1 THEN '' "
        "    WHEN 2 THEN NULL WHEN 3 THEN 'audio/mpeg' WHEN 4 THEN 'video/mp4' "
        "    ELSE 'image/png' END AS m FROM rec), "
        # updatedb.py:81-85 — None gate BEFORE cleanup; &amp;-only
        # unescape + strip; ignore prefixes always apply (only tropicos
        # can match the synthesized urls)
        "cand AS (SELECT k, trim(replace(au, '&amp;', '&')) AS url, t, m "
        "  FROM r2 WHERE au IS NOT NULL), "
        "cand2 AS (SELECT * FROM cand "
        "  WHERE url NOT LIKE 'http://www.tropicos.org/%'), "
        f"med AS (SELECT p_partkey AS k, {base} AS url, "
        "  CASE CAST(p_partkey % 9 AS INT) WHEN 0 THEN NULL WHEN 3 THEN 'images' "
        "    ELSE 'videos' END AS et, "
        "  CASE WHEN p_partkey % 2 = 0 THEN 'image/jpeg' END AS em, "
        "  CASE CAST(p_partkey % 15 AS INT) WHEN 0 THEN NULL WHEN 3 THEN 200 "
        "    WHEN 6 THEN 303 WHEN 9 THEN 404 WHEN 12 THEN 1403 END AS st "
        "  FROM part WHERE p_partkey % 3 = 0), "
        "med2 AS (SELECT *, CASE WHEN st IS NULL THEN NULL "
        "  WHEN k % 6 = 0 THEN TIMESTAMP '2026-06-01' "
        "  ELSE TIMESTAMP '2026-07-30' END AS ck FROM med), "
        # inserts: first-wins pinned to min scan key (updatedb.py:96-97)
        "ins AS (SELECT url, t, m FROM ("
        "  SELECT c.*, ROW_NUMBER() OVER (PARTITION BY url ORDER BY k) AS rn "
        "  FROM cand2 c WHERE url NOT IN (SELECT url FROM med2)) WHERE rn = 1), "
        # updates: never-null rule (updatedb.py:94) with None-safe tuple
        # inequality; last scan key wins (:95, :113-115)
        "upd AS (SELECT url, t, m FROM ("
        "  SELECT c.url, c.t, c.m, "
        "    ROW_NUMBER() OVER (PARTITION BY c.url ORDER BY c.k DESC) AS rn "
        "  FROM cand2 c JOIN med2 e USING (url) "
        "  WHERE NOT (c.t IS NOT DISTINCT FROM e.et "
        "             AND c.m IS NOT DISTINCT FROM e.em) "
        "    AND c.m IS NOT NULL AND c.m <> '' "
        "    AND ((c.t IS NOT NULL AND c.t <> '') OR e.et IS NULL)) "
        "  WHERE rn = 1), "
        # post-write state: updates overwrite (type, mime) VERBATIM and
        # reset last_status/last_check (updatedb.py:113-115)
        "post AS (SELECT e.url, "
        "  CASE WHEN u.url IS NOT NULL THEN 'update' ELSE 'none' END AS action, "
        "  CASE WHEN u.url IS NOT NULL THEN u.t ELSE e.et END AS type, "
        "  CASE WHEN u.url IS NOT NULL THEN u.m ELSE e.em END AS mime, "
        "  CASE WHEN u.url IS NOT NULL THEN NULL ELSE e.st END AS st, "
        "  CASE WHEN u.url IS NOT NULL THEN NULL ELSE e.ck END AS ck "
        "  FROM med2 e LEFT JOIN upd u USING (url) "
        "  UNION ALL SELECT url, 'insert', t, m, NULL, NULL FROM ins), "
        "flagged AS (SELECT url, action, type, mime, "
        # fetcher.py:210-216 — '' type passes the IS NOT NULL gate;
        # sub-400 statuses terminal; >=400 retried once stale
        "  (type IS NOT NULL AND (st IS NULL OR (st >= 400 "
        "    AND ck < TIMESTAMP '2026-07-01'))) AS eligible, "
        "  TRY_CAST(regexp_extract(url, 'm/([0-9]+)', 1) AS INT) AS n "
        "  FROM post), "
        "cls AS (SELECT *, "
        "  CASE WHEN n IS NULL THEN 'all good' "
        "    WHEN n % 13 = 0 THEN 'Access Denied by host' "
        "    WHEN n % 13 = 1 THEN 'your ip  blocked' "
        "    WHEN n % 13 = 2 THEN 'your ip blocked' "
        "    WHEN n % 13 = 3 THEN 'IP ADDRESS BLACKLISTED' "
        "    ELSE 'all good' END AS content, "
        "  CASE WHEN n IS NULL OR n % 2 = 0 THEN 'text/html' "
        "    ELSE 'image/jpeg' END AS dm FROM flagged) "
        "SELECT url, action, type, mime, eligible, "
        # fetcher.py:494-502 — denied first; the BLOCKED pattern's
        # optional group sits between two mandatory spaces
        "CASE WHEN dm IN ('text/html', 'text/plain') "
        "       AND regexp_matches(lower(content), 'access denied') THEN 1403 "
        "     WHEN dm IN ('text/html', 'text/plain') "
        "       AND regexp_matches(lower(content), "
        "           'ip (?:address)? (blocked|blacklisted)') THEN 1509 "
        "END AS html_status FROM cls ORDER BY url"
    )


@query("media_url_discovery", _mediaing_oracle())
def media_url_discovery(spark, sf_dir):
    """Mediaing maintenance composed end-to-end (updatedb.find_new_urls
    -> applied writes -> fetcher.get_items eligibility ->
    inspect_html_response classification). Planted arms: NULL/''
    accessuri (the '' url SURVIVES discovery — the None gate runs before
    cleanup), &amp;-unescape + strip, an always-ignored tropicos url,
    ''/NULL type and mime arms driving every branch of the never-null
    update rule, url collisions for the first-wins insert / last-wins
    update pins, terminal 200/303 vs stale-retryable 404/1403 statuses,
    the ''-type IS NOT NULL eligibility quirk, and the BLOCKED regex's
    double-space quirk ("ip blocked" does NOT classify)."""
    from idb_backend_spark.operators import mediaing as M

    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    base = F.concat(
        F.lit("http://h"), (k % 5).cast("string"),
        F.lit("/m/"), (k % 200).cast("string"),
    )
    recs = part.select(
        k.alias("ord"),
        F.when(k % 11 == 0, F.lit(None).cast("string"))
        .when(k % 11 == 1, F.lit(""))
        .when(k % 11 == 2, F.concat(F.lit(" "), base, F.lit("&amp;x=1 ")))
        .when(k % 11 == 3, F.concat(F.lit("http://www.tropicos.org/"), k.cast("string")))
        .otherwise(base)
        .alias("accessuri"),
        F.when(k % 4 == 0, F.lit("images"))
        .when(k % 4 == 1, F.lit("sounds"))
        .when(k % 4 == 2, F.lit(None).cast("string"))
        .otherwise(F.lit(""))
        .alias("mediatype"),
        F.when(k % 6 == 0, F.lit("image/jpeg"))
        .when(k % 6 == 1, F.lit(""))
        .when(k % 6 == 2, F.lit(None).cast("string"))
        .when(k % 6 == 3, F.lit("audio/mpeg"))
        .when(k % 6 == 4, F.lit("video/mp4"))
        .otherwise(F.lit("image/png"))
        .alias("format"),
    )
    media = part.filter(k % 3 == 0).select(
        base.alias("url"),
        F.when(k % 9 == 0, F.lit(None).cast("string"))
        .when(k % 9 == 3, F.lit("images"))
        .otherwise(F.lit("videos"))
        .alias("type"),
        F.when(k % 2 == 0, F.lit("image/jpeg")).alias("mime"),
        F.when(k % 15 == 3, F.lit(200))
        .when(k % 15 == 6, F.lit(303))
        .when(k % 15 == 9, F.lit(404))
        .when(k % 15 == 12, F.lit(1403))
        .cast("int")
        .alias("last_status"),
        F.when(
            ~(k % 15 == 0),
            F.when(k % 6 == 0, F.lit("2026-06-01")).otherwise(F.lit("2026-07-30")),
        )
        .cast("timestamp")
        .alias("last_check"),
    )
    ins, upd = M.discover_media_urls(recs, media, order_col="ord")

    hit = F.col("__hit").isNotNull()
    post = media.join(
        upd.select(
            "url",
            F.col("type").alias("__ut"),
            F.col("mime").alias("__um"),
            F.lit(True).alias("__hit"),
        ),
        "url",
        "left",
    ).select(
        "url",
        F.when(hit, F.lit("update")).otherwise(F.lit("none")).alias("action"),
        F.when(hit, F.col("__ut")).otherwise(F.col("type")).alias("type"),
        F.when(hit, F.col("__um")).otherwise(F.col("mime")).alias("mime"),
        F.when(hit, F.lit(None).cast("int"))
        .otherwise(F.col("last_status"))
        .alias("last_status"),
        F.when(hit, F.lit(None).cast("timestamp"))
        .otherwise(F.col("last_check"))
        .alias("last_check"),
    ).unionByName(
        ins.select(
            "url",
            F.lit("insert").alias("action"),
            "type",
            "mime",
            F.lit(None).cast("int").alias("last_status"),
            F.lit(None).cast("timestamp").alias("last_check"),
        )
    )
    n = F.nullif(F.regexp_extract(F.col("url"), "m/([0-9]+)", 1), F.lit("")).cast("int")
    content = (
        F.when(n % 13 == 0, F.lit("Access Denied by host"))
        .when(n % 13 == 1, F.lit("your ip  blocked"))
        .when(n % 13 == 2, F.lit("your ip blocked"))
        .when(n % 13 == 3, F.lit("IP ADDRESS BLACKLISTED"))
        .otherwise(F.lit("all good"))
    )
    dm = F.when(n.isNull() | (n % 2 == 0), F.lit("text/html")).otherwise(
        F.lit("image/jpeg")
    )
    return post.select(
        "url",
        "action",
        "type",
        "mime",
        M.fetch_eligibility("2026-07-01").alias("eligible"),
        M.classify_html_response(content, dm).alias("html_status"),
    ).orderBy("url")


# The media serving view (query/views.py media_serving_view — fromurl's
# 3-table join + latest object + API response assembly), graded in the
# slot freed by folding shim_geo_distance into shim_geo_bounding_box
# (q_shim.py). The oracle replicates the closed-form of the part-derived
# domain: latest-object per url (the k%4 second version wins over the
# k%2 first by `modified`), the type/mime Python-or folds, the storage
# URL gate, the preview-text precedence chain, and the falsy-dropping
# response dict — the map<string,string> response is canonicalized to a
# sorted `k=v;...` string on BOTH sides (map value-hash parity across
# engines is collection-library dependent; the string is not).
@query(
    "media_serving_table",
    "WITH d AS (SELECT p_partkey AS k, "
    "  'http://h/m/' || CAST(p_partkey AS VARCHAR) AS url, "
    "  CASE WHEN p_partkey % 4 = 0 THEN md5(CAST(p_partkey + 1 AS VARCHAR)) "
    "       WHEN p_partkey % 2 = 0 THEN md5(CAST(p_partkey AS VARCHAR)) "
    "  END AS etag, "
    "  CASE WHEN p_partkey % 4 = 0 THEN '2026-02-01T00:00:00' "
    "       WHEN p_partkey % 2 = 0 THEN '2026-01-01T00:00:00' "
    "  END AS mod_iso, "
    "  CASE WHEN p_partkey % 7 > 0 OR p_partkey % 2 = 0 THEN 'images' "
    "  END AS tob, "
    "  CASE WHEN p_partkey % 2 = 0 OR p_partkey % 5 > 0 THEN 'image/jpeg' "
    "  END AS mime_eff, "
    "  CASE WHEN p_partkey % 3 = 0 THEN 200 END AS last_status "
    "  FROM part), "
    "s AS (SELECT *, CASE WHEN etag IS NOT NULL THEN "
    "  'https://s.idigbio.org/idigbio-images-prod/' || etag END AS media_url "
    "  FROM d), "
    "st AS (SELECT *, "
    "  CASE WHEN media_url IS NOT NULL THEN NULL "
    "       WHEN mime_eff IS NULL OR tob IS NULL THEN 'No Preview' "
    "       WHEN last_status IS NULL THEN 'Preview Pending' "
    "       ELSE 'No Preview' END AS preview_text, "
    "  CASE WHEN media_url IS NOT NULL THEN 345600 "
    "       WHEN mime_eff IS NULL OR tob IS NULL THEN 86400 "
    "       WHEN last_status IS NULL THEN 600 "
    "       ELSE 86400 END AS cache_s "
    "  FROM s) "
    "SELECT url, media_url, preview_text, cache_s, concat_ws(';', "
    "  CASE WHEN etag IS NOT NULL THEN 'etag=' || etag END, "
    "  'filereference=' || url, "
    "  CASE WHEN last_status IS NOT NULL AND last_status != 0 "
    "    THEN 'last_status=' || CAST(last_status AS VARCHAR) END, "
    "  CASE WHEN mime_eff IS NOT NULL THEN 'mime=' || mime_eff END, "
    "  CASE WHEN mod_iso IS NOT NULL THEN 'modified=' || mod_iso END, "
    "  CASE WHEN preview_text IS NOT NULL THEN 'text=' || preview_text END, "
    "  CASE WHEN tob IS NOT NULL THEN 'type=' || tob END, "
    "  CASE WHEN media_url IS NOT NULL THEN 'url=' || media_url END, "
    "  CASE WHEN etag IS NOT NULL THEN 'user=ingest' END"
    ") AS response_kv FROM st ORDER BY url",
)
def media_serving_table(spark, sf_dir):
    from idb_backend_spark.query.views import media_serving_view

    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    url = F.concat(F.lit("http://h/m/"), k.cast("string"))
    media = part.select(
        url.alias("url"),
        F.when(k % 7 > 0, F.lit("images")).alias("type"),
        F.when(k % 5 > 0, F.lit("image/jpeg")).alias("mime"),
        F.when(k % 3 == 0, F.lit(200)).cast("int").alias("last_status"),
    )
    media_objects = part.filter(k % 2 == 0).select(
        url.alias("url"),
        F.md5(k.cast("string")).alias("etag"),
        F.lit("2026-01-01").cast("timestamp").alias("modified"),
    ).unionByName(
        part.filter(k % 4 == 0).select(
            url.alias("url"),
            F.md5((k + 1).cast("string")).alias("etag"),
            F.lit("2026-02-01").cast("timestamp").alias("modified"),
        )
    )
    objects = media_objects.select(
        "etag",
        F.lit("images").alias("bucket"),
        F.lit("image/jpeg").alias("detected_mime"),
        # populated but output-neutral here: derivatives only gates the
        # deriv-suffixed storage URL, and this entry serves deriv=None
        (F.crc32(F.col("etag")) % 2 == 0).alias("derivatives"),
        F.lit("ingest").alias("owner"),
    ).dropDuplicates(["etag"])
    # the view renders the canonical sorted k=v; string
    # natively (concat_ws over the fixed alphabetical key set) — the
    # old map + array_sort/transform render pulled the whole response
    # Project out of whole-stage codegen (map_filter/transform are
    # CodegenFallback); value equality pinned by
    # tests/test_views.py::test_media_api_record_kv_matches_map_render
    v = media_serving_view(media, media_objects, objects)
    return v.select(
        "url",
        "media_url",
        "preview_text",
        "cache_s",
        "response_kv",
    ).orderBy("url")
