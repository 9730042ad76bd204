"""SURVEY §3.1 composition entry — the dataset-download path users
actually run, end-to-end: shim compile → record↔media cross-filter (J5)
→ DwC-A export with citation counts (S10/S11) → read the archive back
through the engine's own reader (S1) and grade the member contents.

Reference: idigbio_workers/lib/download.py:433-474 (the download task
chains query → cross-filtered record/media sets → CSV members → zip with
citations); tests/idigbio_workers/lib/test_download.py:12-50. Every
piece is oracle-green individually (shim rows, crossfilter_semi_join,
dwca_roundtrip, citation_counts) — this entry proves the COMPOSITION:
the same shim dict drives both the Spark predicates and (via
shim_to_sql) the oracle's WHERE clauses, so a drift anywhere in the
chain — predicate compilation, semi-join direction, CSV shaping,
meta.xml terms, blank→null read-back — breaks the value hash.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from idb_backend_spark.operators import relations
from idb_backend_spark.plans.registry import _t, query, staging_dir
from idb_backend_spark.query.shim import compile_shim, shim_to_sql

# the download request: an iDigBio-style shim per side (rq/mq in the
# reference's download API). Bare scalar = term (P1), range dict = P5.
_DL_SHIM_RECORDS = {
    "basisofrecord": "O",
    "totalprice": {"type": "range", "gte": 50000.0},
}
_DL_SHIM_MEDIA = {
    "returnflag": "N",
    "quantity": {"type": "range", "gte": 45},
}

_REC_WHERE = shim_to_sql(_DL_SHIM_RECORDS)
_MED_WHERE = shim_to_sql(_DL_SHIM_MEDIA)

_DL_ORACLE = (
    # same rename layer the Spark side applies, then the shim-generated
    # WHERE clauses verbatim; r = records passing rq AND owning >=1 media
    # passing mq (the has_child semi-join); the join fans each media row
    # passing mq to its (necessarily present) parent in r
    "WITH recs AS (SELECT o_orderkey AS id, o_orderpriority AS recordset, "
    "  o_orderstatus AS basisofrecord, o_totalprice AS totalprice "
    "  FROM orders), "
    "med AS (SELECT l_orderkey AS coreid, l_returnflag AS returnflag, "
    "  l_quantity AS quantity FROM lineitem), "
    f"r AS (SELECT * FROM recs WHERE {_REC_WHERE} AND EXISTS ("
    f"  SELECT 1 FROM med m WHERE m.coreid = recs.id AND {_MED_WHERE})) "
    "SELECT r.recordset, count(DISTINCT r.id) AS n_records, "
    "  count(*) AS n_media "
    f"FROM r JOIN med m ON m.coreid = r.id AND {_MED_WHERE} "
    "GROUP BY r.recordset ORDER BY r.recordset"
)


@query("download_e2e", _DL_ORACLE)
def download_e2e(spark, sf_dir):
    """§3.1 — the full dataset-download pipeline, graded on what lands
    IN the archive: compile both shims, cross-filter records↔media,
    write the DwC-A zip (occurrence core + multimedia extension +
    citations.txt with per-recordset counts), re-open the zip with
    DwcaArchive, and aggregate the read-back members to per-recordset
    record/media counts."""
    from idb_backend_spark.export.writers import (
        citation_text,
        recordset_counts,
        write_dwca,
    )
    from idb_backend_spark.sources.dwca import DwcaArchive

    records = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("recordset"),
        F.col("o_orderstatus").alias("basisofrecord"),
        F.col("o_totalprice").alias("totalprice"),
    )
    media = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("coreid"),
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_quantity").alias("quantity"),
    )
    r_out, m_out = relations.cross_filter(
        records,
        media,
        record_pred=compile_shim(_DL_SHIM_RECORDS),
        media_pred=compile_shim(_DL_SHIM_MEDIA),
        link=("id", "coreid"),
    )

    # the cross-filtered sides feed THREE eager actions (core member,
    # extension member, citation counts) — persist so the scans and
    # semi-joins run once, not once per action
    r_out = r_out.persist()
    m_out = m_out.persist()

    # the returned frame lazily reads the extracted members under `work`
    work = staging_dir("download_e2e_")
    zip_path = os.path.join(work, "download.zip")
    try:
        core = r_out.select(
            "id",
            F.col("recordset").alias("dwc:collectionCode"),
            F.col("basisofrecord").alias("dwc:basisOfRecord"),
        )
        ext = m_out.select(
            "coreid", F.col("returnflag").alias("ac:accessURI")
        )
        counts = recordset_counts(r_out, "recordset")
        write_dwca(
            zip_path,
            (core, "id",
             ["dwc:collectionCode", "dwc:basisOfRecord"], "records"),
            extensions=[(ext, "coreid", ["ac:accessURI"], "mediarecords")],
            citations=citation_text(
                counts,
                query_echo=str(_DL_SHIM_RECORDS),
                total=sum(n for _, n in counts),
            ),
        )
    finally:
        # write_dwca is eager — the zip is complete before unpersist
        r_out.unpersist()
        m_out.unpersist()

    arch = DwcaArchive(zip_path)
    rcore = arch.read_core(spark).select(
        F.col("id").cast("bigint").alias("id"),
        F.col("`dwc:collectionCode`").alias("recordset"),
    )
    rext = arch.read_extension(spark).select(
        F.col("coreid").cast("bigint").alias("id")
    )
    n_rec = rcore.groupBy("recordset").agg(
        F.countDistinct("id").alias("n_records")
    )
    n_med = (
        rext.join(rcore, on="id")
        .groupBy("recordset")
        .agg(F.count(F.lit(1)).alias("n_media"))
    )
    return (
        n_rec.join(n_med, on="recordset")
        .select("recordset", "n_records", "n_media")
        .orderBy("recordset")
    )


# --------------------------------------------------------------------------
# §3.2 composition — the INGEST path e2e (the write-side twin of
# download_e2e): publisher archive → DwC-A read → harvest merge against a
# seeded store → live latest view. Reference: idigbio_ingestion/db_check.py
# main flow (parse → match → etag-gated upsert → tombstones).
# --------------------------------------------------------------------------

_INGEST_ORACLE = (
    # seed = the store before the harvest; batch = what the archive carries
    # (every 5th supplier's name revised ⇒ changed etag ⇒ update; every 7th
    # dropped ⇒ tombstone; every 3rd absent from the seed ⇒ create). The
    # live view = merged new/changed rows ∪ seed rows the batch left
    # untouched; tombstoned keys disappear.
    "WITH seed AS (SELECT 's' || CAST(s_suppkey AS VARCHAR) AS uuid, "
    "  md5(s_name) AS etag, 0 AS version FROM supplier "
    "  WHERE s_suppkey % 3 != 0), "
    "batch AS (SELECT 's' || CAST(s_suppkey AS VARCHAR) AS uuid, "
    "  md5(CASE WHEN s_suppkey % 5 = 0 THEN s_name || '-rev' "
    "    ELSE s_name END) AS etag "
    "  FROM supplier WHERE s_suppkey % 7 != 0), "
    "merged AS (SELECT b.uuid, b.etag, "
    "  CASE WHEN s.uuid IS NULL THEN 0 ELSE s.version + 1 END AS version "
    "  FROM batch b LEFT JOIN seed s ON b.uuid = s.uuid "
    "  WHERE s.uuid IS NULL OR s.etag != b.etag) "
    "SELECT uuid, etag, CAST(version AS INT) AS version FROM merged "
    "UNION ALL "
    "SELECT s.uuid, s.etag, CAST(s.version AS INT) FROM seed s "
    "WHERE EXISTS (SELECT 1 FROM batch b "
    "  WHERE b.uuid = s.uuid AND b.etag = s.etag) "
    "ORDER BY uuid"
)


@query("ingest_e2e", _INGEST_ORACLE)
def ingest_e2e(spark, sf_dir):
    """§3.2 — the full ingest pipeline graded on the store it leaves
    behind: write the publisher's DwC-A zip, re-open it through
    DwcaArchive (S1), shape the core member into a harvest batch with
    content etags, run apply_harvest_batch (W2 etag-gated versioning +
    U2 tombstones) against a seeded store, and return the LIVE latest
    view (J1 + tombstone filter). A corruption anywhere — CSV shaping,
    meta.xml terms, read-back nulling, etag derivation, version
    assignment, delete detection, latest-view collapse — breaks the
    value hash."""
    from idb_backend_spark.export.writers import write_dwca
    from idb_backend_spark.operators import store as st
    from idb_backend_spark.sources.dwca import DwcaArchive

    sup = _t(spark, sf_dir, "supplier")
    sk = F.col("s_suppkey")
    feed = sup.filter(sk % 7 != 0).select(
        sk.alias("id"),
        F.when(sk % 5 == 0, F.concat(F.col("s_name"), F.lit("-rev")))
        .otherwise(F.col("s_name"))
        .alias("dwc:recordedBy"),
    )
    work = staging_dir("ingest_e2e_")
    zip_path = os.path.join(work, "harvest.zip")
    write_dwca(zip_path, (feed, "id", ["dwc:recordedBy"], "records"))

    core = DwcaArchive(zip_path).read_core(spark)
    batch = core.select(
        F.concat(F.lit("s"), F.col("id")).alias("uuid"),
        F.lit("records").alias("type"),
        F.lit(None).cast("string").alias("parent"),
        F.md5(F.col("`dwc:recordedBy`")).alias("etag"),
        F.col("`dwc:recordedBy`").alias("data"),
    )
    seed = sup.filter(sk % 3 != 0).select(
        F.concat(F.lit("s"), sk).alias("uuid"),
        F.lit("records").alias("type"),
        F.lit(None).cast("string").alias("parent"),
        F.md5(F.col("s_name")).alias("etag"),
        F.lit(0).alias("version"),
        F.to_timestamp(F.lit("2024-01-01")).alias("modified"),
        F.col("s_name").alias("data"),
    )
    res = st.apply_harvest_batch(
        seed, batch, modified=F.to_timestamp(F.lit("2024-02-01"))
    )
    history = seed.unionByName(
        res.appended, allowMissingColumns=True
    ).unionByName(res.tombstones, allowMissingColumns=True)
    live = st.latest_view(history)
    return live.select(
        "uuid", "etag", F.col("version").cast("int").alias("version")
    ).orderBy("uuid")


# --- export job queue (§3.1 orchestration) ----------------------------

# the REAL manager constants (reference v2_download.py:20-23: 23 h
# params-hash dedup window, 30-day artifact TTL) — imported, not
# mirrored, so a change to export/jobs.py rebuilds the oracle SQL with it
from idb_backend_spark.export.jobs import (
    DEDUP_SECONDS as _JOBS_W,
    RESULT_TTL_SECONDS as _JOBS_TTL,
)
_JOBS_T2_LAG = 7200    # resubmit wave: 2 h after the newest request
_JOBS_T3_LEAD = 43200  # vacuum 12 h before the resubmit wave's jobs expire

_JOBS_ORACLE = (
    "WITH k AS (SELECT user_id, event_type, "
    "  CAST(floor(epoch(max(ts))) AS BIGINT) AS t1 "
    "  FROM events GROUP BY 1, 2), "
    f"g AS (SELECT max(t1) + {_JOBS_T2_LAG} AS t2 FROM k), "
    "j AS (SELECT user_id, event_type, t1, t2, "
    f"  CASE WHEN t2 - t1 < {_JOBS_W} THEN 'reused' ELSE 'rerun' END "
    "    AS resubmit, "
    f"  CASE WHEN t2 - t1 < {_JOBS_W} THEN t1 ELSE t2 END AS created_at "
    "  FROM k, g) "
    "SELECT user_id, event_type, resubmit, "
    f"  (t2 + {_JOBS_TTL} - {_JOBS_T3_LEAD}) - created_at >= {_JOBS_TTL} "
    "    AS vacuumed, "
    "  CAST((CASE WHEN resubmit = 'rerun' THEN 1 ELSE 0 END) + "
    f"    (CASE WHEN (t2 + {_JOBS_TTL} - {_JOBS_T3_LEAD}) - created_at "
    f"      >= {_JOBS_TTL} THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS cleaned_artifacts "
    "FROM j ORDER BY user_id, event_type"
)


@query("export_jobs_queue", _JOBS_ORACLE)
def export_jobs_queue(spark, sf_dir):
    """§3.1 orchestration — the download-job registry graded as data
    (reference v2_download.py:20-106: 23 h params-hash dedup, 30-day
    task TTL, artifact cleanup on expiry).

    Each distinct (user_id, event_type) pair is an export params dict;
    its newest event is the request time. Three simulated waves drive
    the REAL DownloadJobManager: (1) submit every request at its own
    clock, (2) resubmit every params dict — keys deliberately in a
    different insertion order, so objectHasher's sorted-keys hashing is
    what makes reuse possible — 2 h after the newest request, where the
    23 h window decides reuse vs re-run (the displaced job parks for
    cleanup), (3) vacuum 12 h before the wave-2 jobs would expire. The
    graded table is the manager's OBSERVED behavior (object identity
    for reuse, the vacuum return for removal, on_expire callback counts
    for cleanup); the oracle recomputes all three outcomes in pure SQL
    from the events table, so a drift in window arithmetic, hash
    key-order invariance, displaced-job parking, or the vacuum's
    only-actually-gone return contract breaks the value hash.

    Scale: the driver-side loop is over DISTINCT params dicts — the job
    registry itself (the reference's Redis keyspace), thousands of
    entries regardless of corpus size — never over events rows; the
    per-key reduction is a Spark agg.
    """
    from collections import Counter

    from idb_backend_spark.export import jobs as jb

    ev = _t(spark, sf_dir, "events")
    reqs = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.expr(
                "timestampdiff(SECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', max(ts))"
            ).alias("t1")
        )
        .orderBy("user_id", "event_type")
        .collect()
    )
    t2 = max(r["t1"] for r in reqs) + _JOBS_T2_LAG
    t3 = t2 + jb.RESULT_TTL_SECONDS - _JOBS_T3_LEAD

    clock = [0.0]
    mgr = jb.DownloadJobManager(clock=lambda: clock[0])

    def run(params):
        return ("artifact", params["rq"]["user"], params["rq"]["type"])

    first = {}
    for r in reqs:
        key = (r["user_id"], r["event_type"])
        clock[0] = float(r["t1"])
        first[key] = mgr.submit(
            {"rq": {"user": key[0], "type": key[1]}, "form": "dwca-csv"},
            run,
        )

    clock[0] = float(t2)
    resubmit = {}
    for r in reqs:
        key = (r["user_id"], r["event_type"])
        # key order shuffled on purpose: dedup hinges on objectHasher's
        # sorted-keys hash (F19), not dict insertion order
        j2 = mgr.submit(
            {"form": "dwca-csv", "rq": {"type": key[1], "user": key[0]}},
            run,
        )
        resubmit[key] = "reused" if j2 is first[key] else "rerun"

    clock[0] = float(t3)
    cleaned = Counter()
    removed = set(
        mgr.vacuum(
            on_expire=lambda job: cleaned.update(
                [(job.params["rq"]["user"], job.params["rq"]["type"])]
            )
        )
    )

    rows = [
        (
            key[0],
            key[1],
            resubmit[key],
            first[key].job_id in removed,
            cleaned.get(key, 0),
        )
        for key in (
            (r["user_id"], r["event_type"]) for r in reqs
        )
    ]
    return spark.createDataFrame(
        rows,
        "user_id bigint, event_type string, resubmit string, "
        "vacuumed boolean, cleaned_artifacts bigint",
    ).orderBy("user_id", "event_type")
