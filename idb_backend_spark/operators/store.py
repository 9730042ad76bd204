"""The versioned entity store — composition of the §1.2 storage semantics
(reference idb/postgres_backend/db.py).

Layout: one append-only history table
``(uuid, type, parent, etag, version, modified, data)`` — the Spark
analog of ``uuids`` + ``uuids_data`` + ``data`` (db.py:266-316) collapsed
into a single columnar fact table. Identifiers and sibling edges are side
tables, exactly as in the reference.

Scale decisions:
* History is append-only parquet/Delta partitioned by ``type`` (X2:
  partition pruning on the hottest predicate) — writes never rewrite
  history.
* "Latest" is a window top-1 per uuid (J1) — computed per batch or
  materialized; bucketing the table by uuid makes the window shuffle-free.
* The enrichment to a typed analytical table (§3.3) happens from the
  latest view, not history, so reindex cost scales with entity count,
  not version count.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idb_backend_spark.operators.relations import (
    aggregate_identifiers,
    sibling_map,
)
from idb_backend_spark.operators.versioning import (
    latest_per_key_agg,
    merge_batch,
    tombstones_for_deletes,
)

# re-exported for existing importers; the single source of truth is
# functions/etags.py — a second literal here could desynchronize delete
# detection (which writes etags.TOMBSTONE_ETAG) from the latest-view
# filter comparing this name
from idb_backend_spark.functions.etags import TOMBSTONE_ETAG  # noqa: E402

HISTORY_COLS = ["uuid", "type", "parent", "etag", "version", "modified", "data"]


def write_bucketed_history(
    history: DataFrame,
    table: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Materialize the history table hash-bucketed (and sorted) by uuid.

    This is the layout decision that pays for itself at 100 TB: every
    per-entity operation — the latest view's top-1-per-uuid, version
    listings, identifier joins keyed by uuid — reads a bucketed scan whose
    output partitioning already satisfies the operator's required
    distribution, so Catalyst plans NO Exchange. The latest view over a
    bucketed store is a zero-shuffle aggregation; a self-join or
    store-to-store join on uuid is a co-located sort-merge join with no
    shuffle on either side (asserted in tests/test_plan_properties.py).

    Bucket count is a layout constant: choose it once per deployment so
    that (table size / num_buckets) keeps per-task input in memory; at 100
    TB with ~256 MB targets that is O(100k) buckets, still far below the
    shuffle-partition counts the same queries would otherwise need.
    """
    (
        history.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, "uuid")
        .sortBy("uuid", "modified")
        .saveAsTable(table)
    )


def compact_history(
    spark,
    table: str,
    num_buckets: int = 32,
    max_files_per_bucket: int = 4,
) -> bool:
    """Compact a fragmented bucketed history table, preserving the
    bucket spec (and so the zero-exchange layout contract).

    Every appended harvest batch writes one file per bucket, so after N
    batches each bucket holds N small files — scan cost and open-file
    overhead grow with batch COUNT, not data size. When the average
    files-per-bucket crosses ``max_files_per_bucket``, rewrite the table
    once (same ``bucketBy``/``sortBy``) into a staging table and swap.
    Returns True when a rewrite happened.

    IO is O(table) per compaction — schedule it by the threshold, never
    per batch; at 100 TB the rewrite amortizes across the many appends
    it absorbs, like any LSM/lakehouse compaction tier.
    """
    files = spark.table(table).inputFiles()
    if len(files) <= max_files_per_bucket * num_buckets:
        return False
    staging = f"{table}__compact"
    backup = f"{table}__old"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    # Re-read the raw files (NOT spark.table): the bucket-aware scan
    # advertises its hash partitioning, which lets the optimizer drop the
    # repartition below as redundant — and the write then emits one file
    # per input split, compacting nothing. A plain scan carries no
    # partitioning claim, so the repartition on the bucket key sticks and
    # each write task holds exactly one bucket's rows (same murmur3 hash
    # as bucketBy) ⇒ ONE file per bucket.
    raw = spark.read.parquet(*files)
    write_bucketed_history(
        raw.repartition(num_buckets, "uuid"), staging, num_buckets
    )
    # Swap via a backup rename, NEVER a drop-then-rename: dropping the
    # managed table first deletes its files, so a crash before the
    # rename would lose the only copy (the next run's DROP IF EXISTS
    # staging would erase the survivor). With the backup sequence every
    # point of failure leaves at least one complete copy on disk — a
    # crash between the renames leaves the data under BOTH {table}__old
    # and {table}__compact, and the original files are deleted only
    # after the compacted table is live under the real name.
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {backup}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    # Concurrent-append reconciliation: a harvest batch appended between
    # the inputFiles() snapshot and the rename above landed in the old
    # directory (the rename moved it into the backup) but is NOT in the
    # compacted rewrite. Re-append any such late files to the live table
    # before dropping the backup — without this a single overlapping
    # append would be silently erased. (Run compaction in the same
    # single-writer window as the reference's maintenance vacuums; this
    # reconciliation narrows the race to the two statements below.)
    snapshot = {f.rsplit("/", 1)[-1] for f in files}
    late = [
        f
        for f in spark.table(backup).inputFiles()
        if f.rsplit("/", 1)[-1] not in snapshot
    ]
    if late:
        write_bucketed_history(
            spark.read.parquet(*late).repartition(num_buckets, "uuid"),
            table,
            num_buckets,
            mode="append",
        )
    spark.sql(f"DROP TABLE {backup}")
    return True


def latest_view(history: DataFrame, include_deleted: bool = False) -> DataFrame:
    """The ``idigbio_uuids_new`` equivalent (db.py:37-44, 244-264): newest
    version per uuid; tombstoned entities dropped unless asked for.

    Ordered by the store's own monotonic VERSION counter first (the
    reference resolves latest by version, db.py:37-44), modified as the
    tie-break: a batch replayed with a non-monotonic caller-supplied
    timestamp (backfill, clock adjustment) must still surface the
    highest version — modified-primary ordering would return the older
    version and the next merge would assign its number twice."""
    latest = latest_per_key_agg(history, ["uuid"], ["version", "modified"])
    if not include_deleted:
        latest = latest.filter(F.col("etag") != TOMBSTONE_ETAG)
    return latest


def latest_with_relations(
    history: DataFrame,
    identifiers: DataFrame | None = None,
    sibling_edges: DataFrame | None = None,
) -> DataFrame:
    """The full item view (db.py:75-108): latest version + ``recordids``
    identifier array (J2) + ``siblings`` map<type, array<uuid>> (J3)."""
    out = latest_view(history)
    if identifiers is not None:
        out = aggregate_identifiers(out, identifiers)
    if sibling_edges is not None:
        # the registry resolving edge targets is the LIVE latest view,
        # not raw history: an entity whose newest version is a tombstone
        # must not appear in anyone's siblings map (sibling_map's
        # non-deleted contract, db.py:58-73) — and reusing `out` avoids
        # a second full-history distinct scan
        uuids = out.select("uuid", "type")
        sibs = sibling_map(sibling_edges, uuids)
        out = out.join(sibs, on="uuid", how="left")
    return out


@dataclass
class BatchResult:
    """Outcome of one harvest application (the A9 summary inputs)."""

    appended: DataFrame  # new history rows (changed/new entities)
    tombstones: DataFrame  # delete tombstone rows
    summary: DataFrame  # (status, n): create/update/delete counters
    _cached: DataFrame | None = None  # persisted latest view (cache_latest)

    def cleanup(self) -> None:
        """Release the persisted latest view (no-op without
        cache_latest) — call after the summary/appended/tombstones
        actions have all run."""
        if self._cached is not None:
            self._cached.unpersist()


def apply_harvest_batch(
    history: DataFrame,
    batch: DataFrame,
    modified: Column,
    delete_parents: list | None = None,
    cache_latest: bool = False,
) -> BatchResult:
    """One recordset harvest against the store (db_check.py main flow):

    * etag-gated version assignment for new/changed entities (W2/X5)
    * anti-join tombstones for entities absent from the batch (U2)
    * create/update/delete counters for the commit gate
      (db_check.py:515-538 applies thresholds to exactly these counts)

    ``batch`` columns: uuid, type, parent, etag, data. The caller appends
    ``appended`` + ``tombstones`` to history storage; nothing here
    mutates. Pass ``modified`` as a LITERAL timestamp — a
    non-deterministic column (current_timestamp) could evaluate
    differently across the summary/appended/tombstones actions.

    Delete detection is SCOPED to the batch's parent recordsets, exactly
    like the reference (db_check.py harvests one recordset and only its
    own entities can be tombstoned): with a multi-recordset store, a
    harvest of rs1 must not tombstone every entity of rs2..rsN merely
    because they are absent from rs1's file.

    ``delete_parents``: pass the harvested recordset ids EXPLICITLY to
    pin the scope (the reference always knows which recordset it is
    harvesting). When omitted, the scope is inferred as the batch's own
    distinct parent values — null-safe, so a fully parentless store
    (single-feed registry sync, the RSS diff shape) still tombstones by
    absence. CAVEAT of the inferred mode: a MIXED batch that carries
    both rs1's children and the rs1 recordset row itself (parent NULL)
    puts NULL in the inferred scope and exposes every OTHER parentless
    entity to absence-deletion — exactly why the explicit parameter
    exists; the commit gate is the backstop, not the fix.

    ``cache_latest``: persist the latest view for the batch's lifetime —
    summary/appended/tombstones are three separate actions over the same
    full-history aggregation; at scale two redundant full-store scans
    per batch. The caller owns cleanup: ``result.cleanup()``.
    """
    cur = latest_view(history, include_deleted=True)
    if cache_latest:
        cur = cur.persist()
    appended = merge_batch(
        cur.select("uuid", "etag", "version"), batch
    ).withColumn("modified", modified)

    carry = [c for c in ("type", "parent") if c in history.columns]
    live = cur.filter(F.col("etag") != TOMBSTONE_ETAG)
    if delete_parents is not None:
        live = live.filter(F.col("parent").isin(delete_parents))
    elif "parent" in live.columns and "parent" in batch.columns:
        parents = batch.select("parent").distinct()
        live = live.join(
            parents,
            on=live["parent"].eqNullSafe(parents["parent"]),
            how="leftsemi",
        )
    tombs = tombstones_for_deletes(
        live.select("uuid", "version", *carry), batch, modified=modified
    )

    status = F.when(F.col("version") == 0, "create").otherwise("update")
    summary = (
        appended.select(status.alias("status"))
        .unionByName(tombs.select(F.lit("delete").alias("status")))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return BatchResult(
        appended=appended,
        tombstones=tombs,
        summary=summary,
        _cached=cur if cache_latest else None,
    )


def commit_gate(
    summary_rows: list, existing_count: int,
    create_threshold: float = 0.5, delete_threshold: float = 0.5,
) -> bool:
    """The ingest commit gate: reject the batch when creates or deletes
    exceed the given fraction of the existing recordset (mass-change
    protection). ``summary_rows`` is the collected A9 summary; empty
    stores always commit (the reference's commit_force intent,
    db_check.py:695-697).

    DOCUMENTED DIVERGENCE from the reference's literal code
    (db_check.py:516-538; a transcription audit CORRECTED by the EXECUTED
    run —
    tests/test_ingest_vs_reference.py::test_process_file_commit_gate_executed):
    the literal gate's entire threshold arithmetic is DEAD CODE.
    ``counts`` is keyed by the member's FILE name (``DwcaRecordFile
    .name`` — a location like 'occurrence.csv', re-set to the full
    path by DelimitedFile.__init__), so ``if k not in ingestion_types:
    continue`` skips EVERY member, ``type_commits`` stays empty, and
    ``commit_ok = all([])`` is True: **the reference always commits**
    (and the ``commit_ok = commit_force`` seed at :516 is overwritten
    regardless). The transcription had read counts as keyed
    by type and read the condition as "inverted"; execution shows it
    never runs at all. This engine implements the evident intent the
    dead code was written for — abort on mass change relative to the
    existing store, let the rest through, honor the empty-store
    force."""
    if existing_count == 0:
        return True
    counts = {r["status"]: r["n"] for r in summary_rows}
    creates = counts.get("create", 0)
    deletes = counts.get("delete", 0)
    return (
        creates <= create_threshold * existing_count
        and deletes <= delete_threshold * existing_count
    )


def version_history(history: DataFrame, uuid: str) -> DataFrame:
    """``version=all`` item lookup (db.py:322-342): every version of one
    entity, ascending."""
    return history.filter(F.col("uuid") == uuid).orderBy("version")


def changed_since(history: DataFrame, watermark) -> DataFrame:
    """X6 — incremental replay input: every version newer than the
    watermark, ascending modified (the reference's correctness note:
    index_from_postgres.py:94-97 — versions must apply in order; the
    merge collapses them to last-writer-wins per uuid)."""
    return history.filter(F.col("modified") > F.lit(watermark)).orderBy(
        "modified"
    )


def incremental_reindex(
    history: DataFrame,
    watermark,
    enrich,
) -> tuple[DataFrame, DataFrame]:
    """X6 composed — refresh the typed analytical table incrementally:

    1. uuids touched since the watermark (tiny vs the full store),
    2. their CURRENT latest rows (changed uuids only — a semi-join, so
       enrichment cost scales with the delta, not the store),
    3. ``enrich(latest_changed)`` recomputes typed rows; tombstoned uuids
       come back as the delete set.

    Returns (upserts, deletes): merge-ready frames for the index table.
    """
    touched = (
        history.filter(F.col("modified") > F.lit(watermark))
        .select("uuid")
        .distinct()
    )
    current = latest_view(history, include_deleted=True).join(
        touched, on="uuid", how="left_semi"
    )
    live = current.filter(F.col("etag") != TOMBSTONE_ETAG)
    deletes = current.filter(F.col("etag") == TOMBSTONE_ETAG).select("uuid")
    return enrich(live), deletes


def suspect_tag(
    records_count: Column,
    records_create: Column,
    records_update: Column,
    records_delete: Column,
    mediarecords_count: Column,
    mediarecords_create: Column,
    mediarecords_update: Column,
    mediarecords_delete: Column,
    datafile_ok: Column,
) -> Column:
    """A9's suspects rule table — ``is_row_suspect``
    (ds_sum_counts.py:53-97) as one first-match-wins when-chain; NULL
    where the reference returns False (no tag).

    The reference's ORDER doubles as its division guard: RECORDS_CHURN
    divides by records_count, which can only be zero there when
    records_delete is zero too (count==0 & delete>0 already returned
    DELETED_ALL_RECORDS, and churn's delete>0 arm short-circuits the
    division) — same for the media arms. The when-chain preserves that
    ordering exactly; nullif() stands in for the short-circuit so a
    zero denominator yields NULL (falsy) instead of an error. Media
    DELETED_MANY/MANY_NEW fire only past the reference's hard
    ``mediarecords_count > 400`` floor; the records churn band is
    EXCLUSIVE (0.9 < create/delete < 1.1)."""
    rc, rcr, rup, rdl = (
        records_count, records_create, records_update, records_delete,
    )
    mc, mcr, mup, mdl = (
        mediarecords_count, mediarecords_create, mediarecords_update,
        mediarecords_delete,
    )

    def ratio(num, den):
        return num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0))

    churn_r = (
        (rdl > 0)
        & (ratio(rcr, rdl) > 0.9) & (ratio(rcr, rdl) < 1.1)
        & (ratio(rcr, rc) > 0.1)
    )
    churn_m = (
        (mdl > 0)
        & (ratio(mcr, mdl) > 0.9) & (ratio(mcr, mdl) < 1.1)
        & (ratio(mcr, mc) > 0.1)
    )
    return (
        F.when(~F.coalesce(datafile_ok, F.lit(False)), "DATAFILE_NOT_OK")
        .when((rc == 0) & (mc == 0), "NO_RECORDS")
        .when((rc > 0) & (rcr == rc) & (rup == 0) & (rdl == 0),
              "ALLNEW_RECORDS")
        .when((rc == 0) & (rdl > 0), "DELETED_ALL_RECORDS")
        .when(churn_r, "RECORDS_CHURN")
        .when((rc > 0) & (ratio(rdl, rc) > 0.2), "DELETED_MANY_RECORDS")
        .when((rc > 0) & (ratio(rcr, rc) > 0.45), "MANY_NEW_RECORDS")
        .when((mc > 0) & (mcr == mc) & (mup == 0) & (mdl == 0),
              "ALLNEW_MEDIA")
        .when((mc == 0) & (mdl > 0), "DELETED_ALL_MEDIA")
        .when((mc > 400) & (ratio(mdl, mc) > 0.06), "DELETED_MANY_MEDIA")
        .when((mc > 400) & (ratio(mcr, mc) > 0.4), "MANY_NEW_MEDIA")
        .when(churn_m, "MEDIA_CHURN")
    )


def deleted_recordset_digests(
    uuids: DataFrame, marked: DataFrame, harvest_date: str
) -> DataFrame:
    """recordset_cleanup's backfill sweep (idigbio_ingestion/
    recordset_cleanup.py:10-59): tombstoned recordsets
    (``type='recordset' AND deleted=true`` in the uuids registry) that
    have no deleted digest yet get one ZEROED summary — every
    count/create/update/delete constant 0 with ``deleted=true`` AND
    ``commited=true`` (the reference's spelling), stamped with the
    sweep time, not the deletion time (post_delete_stats uses now()).
    ``marked`` carries the recordset_ids already bearing a deleted
    digest (the stats-side query, :29-44); the set difference is a
    left-anti join — the U2 kernel against a different target."""
    gone = uuids.filter(
        (F.col("type") == "recordset") & F.col("deleted")
    ).select(F.col("id").alias("recordset_id"))
    todo = gone.join(
        marked.select("recordset_id"), "recordset_id", "left_anti"
    )
    zeros = {
        f"{t}_{m}": F.lit(0).alias(f"{t}_{m}")
        for t in ("records", "mediarecords")
        for m in ("count", "create", "update", "delete")
    }
    return todo.select(
        "recordset_id",
        F.lit(harvest_date).alias("harvest_date"),
        *zeros.values(),
        F.lit(True).alias("deleted"),
        F.lit(True).alias("commited"),
    )
