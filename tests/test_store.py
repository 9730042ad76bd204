"""Versioned-store lifecycle tests (reference db.py + db_check.py):
harvest batches, etag skip, tombstones, latest view with relations,
commit gate."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from idb_backend_spark.operators import store as st

HIST_SCHEMA = (
    "uuid string, type string, parent string, etag string, version int, "
    "modified timestamp, data string"
)
BATCH_SCHEMA = "uuid string, type string, parent string, etag string, data string"


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def _history(spark):
    return spark.createDataFrame(
        [
            ("a", "records", "rs1", "e1", 0, _ts("2024-01-01T00:00:00"), "a0"),
            ("a", "records", "rs1", "e2", 1, _ts("2024-01-02T00:00:00"), "a1"),
            ("b", "records", "rs1", "e3", 0, _ts("2024-01-01T00:00:00"), "b0"),
            ("c", "records", "rs1", st.TOMBSTONE_ETAG, 1,
             _ts("2024-01-03T00:00:00"), None),
            ("c", "records", "rs1", "e4", 0, _ts("2024-01-01T00:00:00"), "c0"),
        ],
        HIST_SCHEMA,
    )


def test_latest_view(spark):
    latest = {r["uuid"]: r for r in st.latest_view(_history(spark)).collect()}
    assert set(latest) == {"a", "b"}  # c is tombstoned
    assert latest["a"]["etag"] == "e2" and latest["a"]["version"] == 1
    with_deleted = st.latest_view(_history(spark), include_deleted=True)
    assert with_deleted.count() == 3


def test_latest_with_relations(spark):
    idents = spark.createDataFrame(
        [("a", "urn:cat:1"), ("a", "urn:occ:1"), ("b", "urn:cat:2")],
        "uuids_id string, identifier string",
    )
    edges = spark.createDataFrame(
        [("a", "m1"), ("a", "m2")], "r1 string, r2 string"
    )
    # register media uuids so sibling typing resolves
    hist = _history(spark).unionByName(
        spark.createDataFrame(
            [
                ("m1", "mediarecords", "rs1", "m1e", 0,
                 _ts("2024-01-01T00:00:00"), "m"),
                ("m2", "mediarecords", "rs1", "m2e", 0,
                 _ts("2024-01-01T00:00:00"), "m"),
            ],
            HIST_SCHEMA,
        )
    )
    out = {r["uuid"]: r for r in
           st.latest_with_relations(hist, idents, edges).collect()}
    assert out["a"]["recordids"] == ["urn:cat:1", "urn:occ:1"]
    assert out["a"]["siblings"]["mediarecords"] == ["m1", "m2"]
    assert out["b"]["siblings"] is None


def test_apply_harvest_batch(spark):
    batch = spark.createDataFrame(
        [
            ("a", "records", "rs1", "e2", "a1"),     # unchanged -> skip
            ("b", "records", "rs1", "e9", "b1"),     # changed -> version 1
            ("d", "records", "rs1", "e5", "d0"),     # new -> version 0
        ],
        BATCH_SCHEMA,
    )
    res = st.apply_harvest_batch(
        _history(spark), batch, modified=F.lit(_ts("2024-02-01T00:00:00"))
    )
    app = {r["uuid"]: r for r in res.appended.collect()}
    assert set(app) == {"b", "d"}  # a skipped by etag equality
    assert app["b"]["version"] == 1
    assert app["d"]["version"] == 0
    tombs = {r["uuid"]: r for r in res.tombstones.collect()}
    # a,b present in batch; live entities are a,b => no deletes (c already
    # tombstoned and excluded from delete detection)
    assert set(tombs) == set()
    summary = {r["status"]: r["n"] for r in res.summary.collect()}
    assert summary == {"create": 1, "update": 1}


def test_tombstone_generation_and_commit_gate(spark):
    batch = spark.createDataFrame(
        [("a", "records", "rs1", "e2", "a1")], BATCH_SCHEMA
    )
    res = st.apply_harvest_batch(
        _history(spark), batch, modified=F.lit(_ts("2024-02-01T00:00:00"))
    )
    tombs = {r["uuid"]: r for r in res.tombstones.collect()}
    assert set(tombs) == {"b"}  # live but absent from batch
    assert tombs["b"]["etag"] == st.TOMBSTONE_ETAG
    assert tombs["b"]["version"] == 1
    rows = res.summary.collect()
    # 1 delete of 2 existing = 50% → allowed at threshold, blocked below it
    assert st.commit_gate(rows, existing_count=2)
    assert not st.commit_gate(rows, existing_count=2, delete_threshold=0.4)
    assert st.commit_gate(rows, existing_count=0)  # empty store force-commit


def test_version_history(spark):
    rows = st.version_history(_history(spark), "a").collect()
    assert [r["version"] for r in rows] == [0, 1]


def test_incremental_reindex(spark):
    hist = _history(spark)
    wm = _ts("2024-01-01T12:00:00")
    # touched since watermark: a (v1 @ 01-02), c (tombstone @ 01-03)
    enriched_inputs = []

    def enrich(df):
        out = df.withColumn("genus_typed", F.upper("data"))
        enriched_inputs.append(df.count())
        return out

    from idb_backend_spark.operators.store import incremental_reindex

    upserts, deletes = incremental_reindex(hist, wm, enrich)
    up = {r["uuid"]: r for r in upserts.collect()}
    assert set(up) == {"a"}  # only a's latest is live among touched
    assert up["a"]["genus_typed"] == "A1"
    assert [r["uuid"] for r in deletes.collect()] == ["c"]
    assert enriched_inputs == [1]  # enrichment saw the delta, not the store


def test_changed_since_orders_ascending(spark):
    from idb_backend_spark.operators.store import changed_since

    rows = changed_since(_history(spark), _ts("2023-12-31T00:00:00")).collect()
    ts = [r["modified"] for r in rows]
    assert ts == sorted(ts)


def test_compact_history_preserves_layout_and_content(spark):
    """Compaction: appended batches fragment the bucketed table (one
    file per bucket per batch); compact_history rewrites it once under
    the threshold while preserving rows AND the zero-exchange bucketed
    layout."""
    from idb_backend_spark.operators import versioning

    table = "compact_hist_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        base = _history(spark)
        st.write_bucketed_history(base, table, num_buckets=2)
        # three appended harvest batches -> files accumulate per bucket
        for i in range(3):
            batch = spark.createDataFrame(
                [(f"x{i}", "records", "rs1", f"ex{i}", 0,
                  _ts("2024-02-01T00:00:00"), f"x{i}v")],
                HIST_SCHEMA,
            )
            st.write_bucketed_history(batch, table, num_buckets=2,
                                      mode="append")
        files_before = len(spark.table(table).inputFiles())
        rows_before = sorted(
            (r["uuid"], r["version"]) for r in spark.table(table).collect()
        )

        # under threshold: no-op
        assert st.compact_history(
            spark, table, num_buckets=2, max_files_per_bucket=99
        ) is False

        assert st.compact_history(
            spark, table, num_buckets=2, max_files_per_bucket=1
        ) is True
        files_after = len(spark.table(table).inputFiles())
        assert files_after < files_before
        assert sorted(
            (r["uuid"], r["version"]) for r in spark.table(table).collect()
        ) == rows_before
        # the layout contract survives: latest view still plans no Exchange
        q = versioning.latest_per_key_agg(
            spark.table(table), ["uuid"], ["modified", "version"]
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact")
        spark.sql(f"DROP TABLE IF EXISTS {table}__old")


def test_harvest_deletes_scoped_to_batch_recordsets(spark):
    """A harvest of one recordset must tombstone only ITS missing
    entities — with a multi-recordset store, rs2's entities are absent
    from every rs1 batch by definition and must survive untouched
    (reference db_check.py scopes the delete scan per recordset)."""
    history = spark.createDataFrame(
        [
            ("a", "records", "rs1", "e1", 0, _ts("2024-01-01T00:00:00"), "a"),
            ("b", "records", "rs1", "e2", 0, _ts("2024-01-01T00:00:00"), "b"),
            ("x", "records", "rs2", "e3", 0, _ts("2024-01-01T00:00:00"), "x"),
            ("y", "records", "rs2", "e4", 0, _ts("2024-01-01T00:00:00"), "y"),
        ],
        HIST_SCHEMA,
    )
    # rs1's harvest carries only `a` -> `b` is deleted; rs2 is untouched
    batch = spark.createDataFrame(
        [("a", "records", "rs1", "e1", "a")], BATCH_SCHEMA
    )
    res = st.apply_harvest_batch(
        history, batch, modified=F.to_timestamp(F.lit("2024-02-01"))
    )
    tomb_keys = {r["uuid"] for r in res.tombstones.collect()}
    assert tomb_keys == {"b"}
    # and the tombstone row carries type/parent so a type-pruned scan
    # still sees the delete
    row = res.tombstones.first()
    assert row["type"] == "records" and row["parent"] == "rs1"


def test_sibling_registry_excludes_tombstoned_entities(spark):
    """An entity whose newest version is a tombstone must not appear in
    anyone's siblings map (db.py:58-73 non-deleted contract)."""
    edges = spark.createDataFrame(
        [("a", "c"), ("a", "b")], "r1 string, r2 string"
    )
    out = {
        r["uuid"]: r
        for r in st.latest_with_relations(
            _history(spark), sibling_edges=edges
        ).collect()
    }
    sibs_a = out["a"]["siblings"] or {}
    linked = {u for us in sibs_a.values() for u in us}
    assert "b" in linked and "c" not in linked


def test_latest_view_survives_backfill_timestamps(spark):
    """latest resolves by the monotonic VERSION counter first (reference
    db.py:37-44): a backfill replay whose caller-supplied timestamp is
    OLDER than an existing version must still surface the higher
    version, or the next merge would assign its number twice."""
    hist = spark.createDataFrame(
        [
            ("x", "records", "rs1", "e0", 0, _ts("2024-03-01T00:00:00"), "x0"),
            # v1 written by a backfill with an EARLIER literal timestamp
            ("x", "records", "rs1", "e1", 1, _ts("2024-01-01T00:00:00"), "x1"),
        ],
        HIST_SCHEMA,
    )
    latest = {r["uuid"]: r for r in st.latest_view(hist).collect()}
    assert latest["x"]["version"] == 1 and latest["x"]["etag"] == "e1"
    # and a new changed batch gets version 2, not a duplicate 1
    batch = spark.createDataFrame(
        [("x", "records", "rs1", "e2", "x2")], BATCH_SCHEMA
    )
    res = st.apply_harvest_batch(
        hist, batch, modified=F.lit(_ts("2024-04-01T00:00:00"))
    )
    assert res.appended.collect()[0]["version"] == 2


def test_merge_batch_collapses_in_batch_duplicates(spark):
    """A uuid appearing twice in one harvest file must yield ONE history
    row (deterministically the smallest etag), never two rows sharing a
    version number."""
    batch = spark.createDataFrame(
        [
            ("d", "records", "rs1", "e9", "d-b"),
            ("d", "records", "rs1", "e5", "d-a"),
        ],
        BATCH_SCHEMA,
    )
    res = st.apply_harvest_batch(
        _history(spark), batch, modified=F.lit(_ts("2024-02-01T00:00:00"))
    )
    rows = res.appended.collect()
    assert len(rows) == 1
    assert rows[0]["etag"] == "e5" and rows[0]["version"] == 0


def test_delete_scope_explicit_parents_protects_siblings(spark):
    """The mixed-batch hazard: a batch carrying rs1's children AND a
    parentless row would (in inferred mode) put NULL in the delete
    scope and expose every other parentless entity. Passing
    delete_parents pins the scope to the harvested recordset, exactly
    like the reference (db_check harvests ONE recordset)."""
    hist = spark.createDataFrame(
        [
            # two top-level (parentless) recordset entities
            ("rs1", "recordsets", None, "r1", 0, _ts("2024-01-01T00:00:00"), "r"),
            ("rs2", "recordsets", None, "r2", 0, _ts("2024-01-01T00:00:00"), "r"),
            # children of each
            ("a", "records", "rs1", "e1", 0, _ts("2024-01-01T00:00:00"), "a0"),
            ("b", "records", "rs1", "e2", 0, _ts("2024-01-01T00:00:00"), "b0"),
            ("z", "records", "rs2", "e3", 0, _ts("2024-01-01T00:00:00"), "z0"),
        ],
        HIST_SCHEMA,
    )
    # rs1 harvest: the rs1 entity itself (parent NULL) + one child
    batch = spark.createDataFrame(
        [
            ("rs1", "recordsets", None, "r1", "r"),
            ("a", "records", "rs1", "e1", "a0"),
        ],
        BATCH_SCHEMA,
    )
    res = st.apply_harvest_batch(
        hist, batch, modified=F.lit(_ts("2024-02-01T00:00:00")),
        delete_parents=["rs1"],
    )
    tombs = {r["uuid"] for r in res.tombstones.collect()}
    # only rs1's absent child is tombstoned; rs2 and its child and the
    # parentless rs2 entity are untouched
    assert tombs == {"b"}


def test_null_etag_batch_row_survives_dedup(spark):
    """min_by skips NULL ordering values — a key whose only row carries
    a null etag must still merge intact, not collapse to an all-NULL
    row that loses the record."""
    batch = spark.createDataFrame(
        [("n1", "records", "rs1", None, "payload")], BATCH_SCHEMA
    )
    res = st.apply_harvest_batch(
        _history(spark), batch, modified=F.lit(_ts("2024-02-01T00:00:00"))
    )
    rows = res.appended.collect()
    assert len(rows) == 1
    assert rows[0]["uuid"] == "n1" and rows[0]["data"] == "payload"
    assert rows[0]["etag"] is None and rows[0]["version"] == 0


def _reference_literal_gate(counts: dict, commit_force: bool) -> bool:
    """The reference's commit gate EXACTLY as written
    (db_check.py:515-538) — r13 CORRECTION of the r9 transcription,
    which omitted the ``if k not in ingestion_types: continue`` line:
    ``counts`` is keyed by the member FILE name (DwcaRecordFile.name —
    'occurrence.csv', actually the full extracted path after
    DelimitedFile.__init__ re-sets it), which is NEVER an
    ingestion-type key ('dwc:Occurrence', ...), so every member is
    skipped, ``type_commits`` stays [], and ``all([])`` commits
    UNCONDITIONALLY. The threshold arithmetic below is dead code; it
    is kept verbatim (with the skip line) because this transcription
    IS the pin. Proven by running the real process_file:
    tests/test_ingest_vs_reference.py::test_process_file_commit_gate_executed."""
    ingestion_types = {
        "dwc:Occurrence": "records",
        "dwc:Multimedia": "mediarecords",
        "dcterms": "mediarecords",
        "records": "records",
        "mediarecords": "mediarecords",
    }
    commit_ok = commit_force
    type_commits = []
    for k in counts:
        if k not in ingestion_types:
            continue
        c = counts[k]
        type_commits.append(
            c["create"] / float(c["processed_line_count"]) >= 0.5
            and c["delete"] / float(c["processed_line_count"]) >= 0.5
        )
    commit_ok = all(type_commits)
    return commit_ok


def test_commit_gate_literal_vs_intent_divergence():
    """A9 divergence pin (adjudicated r9; CORRECTED r13 by executing
    the real process_file): the reference's literal gate
    (db_check.py:515-538) is DEAD CODE — counts are keyed by member
    file name, never an ingestion-type key, so it commits every batch
    unconditionally; the threshold arithmetic (itself inverted and
    batch-denominated, had it ever run) never executes. The engine's
    commit_gate implements the evident INTENT (abort on mass change vs
    the existing store). Both behaviors machine-checked side by side
    like every preserved quirk."""
    from idb_backend_spark.operators import store as st

    # A perfectly normal incremental batch: 1000 lines, 30 creates,
    # 5 deletes against a 10_000-record store — keys are FILE names,
    # as process_file actually builds them.
    normal = {"occurrence.csv": {"create": 30, "delete": 5,
                                 "processed_line_count": 1000}}
    normal_summary = [
        {"status": "create", "n": 30},
        {"status": "update", "n": 965},
        {"status": "delete", "n": 5},
    ]
    # The literal gate COMMITS it — and everything else: the file-name
    # keys skip every member and all([]) is True (commit_force dead).
    assert _reference_literal_gate(normal, commit_force=False) is True
    assert _reference_literal_gate(normal, commit_force=True) is True
    # Engine intent gate also commits the normal batch.
    assert st.commit_gate(normal_summary, existing_count=10_000) is True

    # A catastrophic churn batch: the literal gate STILL commits
    # (there is no shape it refuses); the intent gate aborts — the
    # engine's mass-change protection is strictly new behavior, not a
    # re-derivation of a working reference rule.
    churn = {"occurrence.csv": {"create": 500, "delete": 500,
                                "processed_line_count": 1000}}
    churn_summary = [
        {"status": "create", "n": 500},
        {"status": "delete", "n": 500},
    ]
    assert _reference_literal_gate(churn, commit_force=False) is True
    assert st.commit_gate(churn_summary, existing_count=600) is False

    # Hypothetical type-keyed counts (what the dead arithmetic was
    # evidently written against): even then the thresholds are inverted
    # — a normal batch would be refused, only 50/50 churn would commit.
    typed_normal = {"dwc:Occurrence": {"create": 30, "delete": 5,
                                       "processed_line_count": 1000}}
    typed_churn = {"dwc:Occurrence": {"create": 500, "delete": 500,
                                      "processed_line_count": 1000}}
    assert _reference_literal_gate(typed_normal, commit_force=False) is False
    assert _reference_literal_gate(typed_churn, commit_force=False) is True

    # No counts at all: all([]) == True -> commit; the engine's
    # empty-store arm is the (live) analog of the intended commit_force.
    assert _reference_literal_gate({}, commit_force=False) is True
    assert st.commit_gate([], existing_count=0) is True


def _reference_is_row_suspect(row: dict):
    """is_row_suspect transcribed (ds_sum_counts.py:53-97) for the grid
    pin below — the elif ORDER is the division guard there."""
    records_count = row.get('records_count', 0)
    records_create = row.get('records_create', 0)
    records_update = row.get('records_update', 0)
    records_delete = row.get('records_delete', 0)
    mediarecords_count = row.get('mediarecords_count', 0)
    mediarecords_create = row.get('mediarecords_create', 0)
    mediarecords_update = row.get('mediarecords_update', 0)
    mediarecords_delete = row.get('mediarecords_delete', 0)
    if not row.get('datafile_ok'):
        return "DATAFILE_NOT_OK"
    if records_count == 0 and mediarecords_count == 0:
        return "NO_RECORDS"
    if records_count > 0 and records_create == records_count and \
       records_update == 0 and records_delete == 0:
        return "ALLNEW_RECORDS"
    if records_count == 0 and records_delete > 0:
        return "DELETED_ALL_RECORDS"
    if records_delete > 0 and \
       0.9 < (records_create / records_delete) < 1.1 and \
       records_create / records_count > 0.1:
        return "RECORDS_CHURN"
    if records_count > 0:
        if records_delete / records_count > 0.2:
            return "DELETED_MANY_RECORDS"
        if records_create / records_count > 0.45:
            return "MANY_NEW_RECORDS"
    if mediarecords_count > 0 and mediarecords_create == mediarecords_count \
       and mediarecords_update == 0 and mediarecords_delete == 0:
        return "ALLNEW_MEDIA"
    if mediarecords_count == 0 and mediarecords_delete > 0:
        return "DELETED_ALL_MEDIA"
    if mediarecords_count > 400:
        if mediarecords_delete / mediarecords_count > 0.06:
            return "DELETED_MANY_MEDIA"
        if mediarecords_create / mediarecords_count > 0.4:
            return "MANY_NEW_MEDIA"
    if mediarecords_delete > 0 and \
       0.9 < (mediarecords_create / mediarecords_delete) < 1.1 and \
       mediarecords_create / mediarecords_count > 0.1:
        return "MEDIA_CHURN"
    return False


def test_suspect_tag_grid_matches_reference(spark, requires_reference):
    """A9 suspects: the native when-chain equals the reference over a
    65k-combination grid (every arm and every short-circuit-guarded
    division is exercised; False maps to NULL). r11 upgrade: the
    REFERENCE's own is_row_suspect (ds_sum_counts.py:53-97, atomicfile
    stubbed) executes for every grid row alongside the transcription
    above, so the pin is machine-derived — the transcription stays as
    the readable spec and must agree with both."""
    import importlib.util
    import itertools
    import sys
    from unittest import mock

    sys.modules.setdefault("atomicfile", mock.MagicMock())
    sys.path.insert(0, "/root/reference")
    spec = importlib.util.spec_from_file_location(
        "ref_ds_sum_counts",
        "/root/reference/idigbio_ingestion/ds_sum_counts.py",
    )
    RDS = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(RDS)

    from idb_backend_spark.operators import store as st
    from pyspark.sql import functions as F

    rows = []
    rec_grid = itertools.product(
        (0, 1, 10, 100), (0, 1, 3, 10), (0, 1, 3, 10), (0, 1, 3, 10)
    )
    med_grid = list(itertools.product(
        (0, 10, 401, 500), (0, 9, 200, 500), (0, 1), (0, 1, 30, 490)
    ))
    for rc, rcr, rup, rdl in rec_grid:
        for (mc, mcr, mup, mdl), ok in itertools.product(
            med_grid, (True, False)
        ):
            rows.append((rc, rcr, rup, rdl, mc, mcr, mup, mdl, ok))
    df = spark.createDataFrame(
        rows,
        "rc long, rcr long, rup long, rdl long, "
        "mc long, mcr long, mup long, mdl long, ok boolean",
    )
    got = df.withColumn(
        "tag",
        st.suspect_tag(
            F.col("rc"), F.col("rcr"), F.col("rup"), F.col("rdl"),
            F.col("mc"), F.col("mcr"), F.col("mup"), F.col("mdl"),
            F.col("ok"),
        ),
    ).collect()
    mismatches = []
    for r in got:
        row_dict = {
            "records_count": r["rc"], "records_create": r["rcr"],
            "records_update": r["rup"], "records_delete": r["rdl"],
            "mediarecords_count": r["mc"], "mediarecords_create": r["mcr"],
            "mediarecords_update": r["mup"],
            "mediarecords_delete": r["mdl"], "datafile_ok": r["ok"],
        }
        want = _reference_is_row_suspect(row_dict)
        executed = RDS.is_row_suspect(dict(row_dict))
        assert executed == want, (row_dict, executed, want)
        want = None if want is False else want
        if r["tag"] != want:
            mismatches.append((tuple(r)[:9], r["tag"], want))
    assert mismatches[:5] == [] and not mismatches


def test_reconcile_skip_set_reference_rule(spark):
    """U3 r10 fix (index_from_postgres.py:186-222): store-driven work
    set — etag-equal skipped, NEVER-INDEXED tombstones skipped, indexed
    stale tombstones reindexed, index orphans never visited."""
    from idb_backend_spark.functions.etags import TOMBSTONE_ETAG
    from idb_backend_spark.operators import versioning as v

    idx = spark.createDataFrame(
        [("a", "e1"), ("b", "e2"), ("d", "old"), ("z", "orphan")],
        "uuid string, etag string",
    )
    store = spark.createDataFrame(
        [
            ("a", "e1"),             # equal -> skip
            ("b", "e9"),             # differs -> work
            ("c", TOMBSTONE_ETAG),   # tombstone, never indexed -> skip
            ("d", TOMBSTONE_ETAG),   # tombstone, index stale -> work
            ("e", "new"),            # never indexed -> work
        ],
        "uuid string, etag string",
    )
    work = {
        r["uuid"] for r in v.reconcile_skip_set(idx, store).collect()
    }
    assert work == {"b", "d", "e"}  # 'z' (orphan) never visited
    orphans = {r["uuid"] for r in v.index_orphans(idx, store).collect()}
    assert orphans == {"z"}


def test_deleted_recordset_digests(spark):
    """recordset_cleanup.py:10-59 — tombstoned recordsets minus the
    already-marked set get a zeroed digest with deleted/commited true."""
    from idb_backend_spark.operators.store import deleted_recordset_digests

    uuids = spark.createDataFrame(
        [
            ("r1", "recordset", True),
            ("r2", "recordset", True),
            ("r3", "recordset", False),   # live: out
            ("m1", "mediarecord", True),  # wrong type: out
        ],
        "id string, type string, deleted boolean",
    )
    marked = spark.createDataFrame([("r2",)], "recordset_id string")
    got = deleted_recordset_digests(uuids, marked, "2026-08-16T00:00:00").collect()
    assert len(got) == 1
    row = got[0].asDict()
    assert row["recordset_id"] == "r1"
    assert row["records_count"] == 0 and row["mediarecords_delete"] == 0
    assert row["deleted"] is True and row["commited"] is True
    assert row["harvest_date"] == "2026-08-16T00:00:00"


def test_latest_per_key_agg_all_columns_are_keys(spark):
    """ADVICE r14: the degenerate call where every column is a grouping
    key used to crash (agg() rejects an empty expression list); it now
    reduces to the distinct keys — same contract, no payload to pick."""
    from idb_backend_spark.operators import versioning

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2)], "k string, v int"
    )
    got = versioning.latest_per_key_agg(df, ["k", "v"], ["v"])
    assert sorted((r["k"], r["v"]) for r in got.collect()) == [
        ("a", 1), ("b", 2),
    ]
    assert got.columns == ["k", "v"]

    ded = versioning._dedupe_batch(
        df.select("k"), "k", "k"
    )
    assert sorted(r["k"] for r in ded.collect()) == ["a", "b"]


def test_degenerate_agg_guards(spark):
    """The rest of the ADVICE r14 degenerate-agg class, audited
    repo-wide: every groupBy().agg(*list) whose list a caller could
    empty either reduces sensibly or fails with its contract."""
    import pytest as _pytest

    from idb_backend_spark.operators.aggregates import collection_counts
    from idb_backend_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("p1", "t1"), ("p1", "t2"), ("p2", "t1")], "p string, t string"
    )
    got = collection_counts(df, "p", "t", [])
    assert sorted(r["p"] for r in got.collect()) == ["p1", "p2"]

    with _pytest.raises(ValueError, match="non-empty"):
        salted_agg(df, ["p"], [], [])
