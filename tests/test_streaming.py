"""§2.10 streaming tests: incremental foreachBatch merge (watermark
replay + etag skip), watermarked windowed rollup, and stateful
sessionization — all driven with Trigger.AvailableNow for determinism."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from idb_backend_spark.streaming import incremental as inc

SCHEMA = StructType(
    [
        StructField("uuid", StringType()),
        StructField("etag", StringType()),
        StructField("modified", TimestampType()),
        StructField("payload", StringType()),
    ]
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_incremental_merge(spark, tmp_path):
    land = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    batch1 = _rows(
        spark,
        [
            ("a", "e1", _ts("2024-01-01T00:00:00"), "v1"),
            ("b", "e2", _ts("2024-01-01T00:00:00"), "v1"),
        ],
    )
    batch1.write.mode("append").parquet(land)
    q = inc.incremental_merge_query(
        inc.stream_from_directory(spark, land, SCHEMA), store, ckpt
    )
    q.awaitTermination(120)
    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert got["a"]["etag"] == "e1" and len(got) == 2

    # batch 2: out-of-order versions of `a` (ordered replay must keep the
    # newest), an unchanged-etag row for `b` (skip), and a new key `c`
    batch2 = _rows(
        spark,
        [
            ("a", "e9", _ts("2024-01-02T12:00:00"), "v3"),
            ("a", "e5", _ts("2024-01-02T00:00:00"), "v2"),
            ("b", "e2", _ts("2024-01-03T00:00:00"), "v1"),
            ("c", "e7", _ts("2024-01-03T00:00:00"), "v1"),
        ],
    )
    batch2.write.mode("append").parquet(land)
    q = inc.incremental_merge_query(
        inc.stream_from_directory(spark, land, SCHEMA), store, ckpt
    )
    q.awaitTermination(120)
    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert len(got) == 3
    assert got["a"]["etag"] == "e9" and got["a"]["payload"] == "v3"
    assert got["b"]["payload"] == "v1"
    assert got["c"]["etag"] == "e7"
    # the two-hop commit's staging directory is cleaned after each batch
    import os

    assert not os.path.exists(store + "__staging")


def test_upsert_monotonic_replay_guard(spark, tmp_path):
    """A change-feed file holding an OLDER version of a key can land in a
    later micro-batch (file streams promise no cross-file ordering). The
    merge must converge to the newest-modified version per key anyway:
    stale changed rows are dropped, ties keep the store row."""
    store = str(tmp_path / "guardstore")
    inc.upsert_batch_into_store(
        store, _rows(spark, [("a", "e2", _ts("2024-01-05T00:00:00"), "v2")])
    )
    # stale replay: etag differs but modified is older -> must NOT regress
    inc.upsert_batch_into_store(
        store, _rows(spark, [("a", "e1", _ts("2024-01-01T00:00:00"), "v1")])
    )
    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert got["a"]["etag"] == "e2" and got["a"]["payload"] == "v2"
    # equal-modified different-etag tie keeps the store row (idempotent
    # replay of a rewritten batch is a no-op)
    inc.upsert_batch_into_store(
        store, _rows(spark, [("a", "e9", _ts("2024-01-05T00:00:00"), "v9")])
    )
    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert got["a"]["etag"] == "e2"
    # genuinely newer version still lands
    inc.upsert_batch_into_store(
        store, _rows(spark, [("a", "e3", _ts("2024-01-06T00:00:00"), "v3")])
    )
    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert got["a"]["etag"] == "e3" and got["a"]["payload"] == "v3"


def _bucket_inventory(store_dir):
    """{bucket_dir: {filename: sha256}} for every __bucket=N directory."""
    import hashlib
    import pathlib

    inv = {}
    for b in pathlib.Path(store_dir).glob("__bucket=*"):
        inv[b.name] = {
            f.name: hashlib.sha256(f.read_bytes()).hexdigest()
            for f in b.glob("*.parquet")
        }
    return inv


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    store = str(tmp_path / "bstore")
    seed = _rows(
        spark,
        [(k, f"e-{k}", _ts("2024-01-01T00:00:00"), "v1")
         for k in "abcdefgh"],
    )
    inc.upsert_batch_into_store(store, seed, n_buckets=4)
    before = _bucket_inventory(store)
    assert len(before) > 1  # keys spread over multiple buckets

    batch = _rows(spark, [("a", "e-a2", _ts("2024-01-02T00:00:00"), "v2")])
    inc.upsert_batch_into_store(store, batch, n_buckets=4)
    after = _bucket_inventory(store)

    touched = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("a")), F.lit(4)).cast("int").alias("b")
    ).first()["b"]
    touched_dir = f"__bucket={touched}"
    assert after[touched_dir] != before[touched_dir]
    for d, files in before.items():
        if d != touched_dir:
            # untouched bucket directories are byte-identical
            assert after[d] == files, d

    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert len(got) == 8
    assert got["a"]["etag"] == "e-a2" and got["a"]["payload"] == "v2"
    assert got["b"]["etag"] == "e-b"


def test_upsert_rejects_legacy_flat_store(spark, tmp_path):
    # a store without the bucket layout and hwm column is refused by
    # name, and its files are left as they were
    import hashlib
    import pathlib

    store = str(tmp_path / "flatstore")
    _rows(
        spark, [("x", "e1", _ts("2024-01-01T00:00:00"), "v1")]
    ).write.mode("overwrite").parquet(store)

    def files():
        return {
            f.name: hashlib.sha256(f.read_bytes()).hexdigest()
            for f in pathlib.Path(store).iterdir()
        }

    before = files()
    batch = _rows(spark, [("y", "e2", _ts("2024-01-02T00:00:00"), "v1")])
    with pytest.raises(ValueError, match="__bucket, __hwm"):
        inc.upsert_batch_into_store(store, batch, n_buckets=4)
    assert files() == before
    got = {r["uuid"]: r["etag"] for r in spark.read.parquet(store).collect()}
    assert got == {"x": "e1"}


def test_read_store_propagates_non_missing_errors(spark, tmp_path):
    # a corrupt store must raise, not be treated as empty and overwritten
    import pytest as _pytest

    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    batch = _rows(spark, [("a", "e1", _ts("2024-01-01T00:00:00"), "v1")])
    with _pytest.raises(Exception):
        inc.upsert_batch_into_store(str(bad), batch)
    # the garbage file is still there — nothing clobbered it
    assert (bad / "part-00000.parquet").read_bytes() == b"not a parquet file"


def test_windowed_rollup(spark, tmp_path):
    land = str(tmp_path / "landing")
    _rows(
        spark,
        [
            ("a", "x", _ts("2024-01-01T05:00:00"), "p"),
            ("b", "x", _ts("2024-01-01T09:00:00"), "p"),
            ("c", "x", _ts("2024-01-02T05:00:00"), "p"),
        ],
    ).write.mode("append").parquet(land)
    stream = inc.stream_from_directory(spark, land, SCHEMA)
    rolled = inc.windowed_rollup(stream, "modified", ["etag"], "1 day", "1 hour")
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        (r["window_start"].isoformat(), r["etag"]): r["count"]
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    # append mode only emits windows closed by the watermark; day 1 closes
    # once day 2's event advances the watermark past it
    assert out.get(("2024-01-01T00:00:00", "x")) == 2


def test_sessionize(spark, tmp_path):
    land = str(tmp_path / "landing")
    _rows(
        spark,
        [
            ("u1", "e", _ts("2024-01-01T00:00:00"), "p"),
            ("u1", "e", _ts("2024-01-01T00:10:00"), "p"),
            # > 30 min gap: closes session 1 (2 events), opens session 2
            ("u1", "e", _ts("2024-01-01T02:00:00"), "p"),
            ("u2", "e", _ts("2024-01-01T00:00:00"), "p"),
        ],
    ).write.mode("append").parquet(land)
    stream = inc.stream_from_directory(spark, land, SCHEMA)
    # timeout_flush=False so the AvailableNow run terminates: pending
    # processing-time timeouts keep a stateful query scheduling empty
    # micro-batches forever (the timeout-flush mode is for long-running
    # services, not bounded replays)
    sessions = inc.sessionize(
        stream, "uuid", "modified", gap_seconds=1800, timeout_flush=False
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sessions_test").collect()
    closed = {(r["uuid"], r["n_events"]) for r in rows}
    # the first u1 session closed because a later event exceeded the gap;
    # open sessions (u1 #2, u2) remain in state until timeout
    assert ("u1", 2) in closed
    assert rows[0]["session_end"] >= rows[0]["session_start"]


def test_upsert_hwm_survives_etag_equal_skip(spark, tmp_path):
    """The batch-boundary-independence regression: an etag-EQUAL
    observation newer than everything seen must advance the key's
    high-water mark even though the visible row is untouched — otherwise
    an out-of-order older-but-different-etag row arriving in a LATER
    micro-batch would be admitted and the outcome would depend on how
    the feed's files were batched."""
    store = str(tmp_path / "hwmstore")
    inc.upsert_batch_into_store(
        store, _rows(spark, [("a", "eA", _ts("2024-01-01T00:00:00"), "v1")])
    )
    # newest observation: same etag at t=5 -> X5 skip, visible modified
    # stays t=1, but the hwm must move to t=5
    inc.upsert_batch_into_store(
        store, _rows(spark, [("a", "eA", _ts("2024-01-05T00:00:00"), "v1")])
    )
    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert got["a"]["etag"] == "eA"
    assert got["a"]["modified"] == _ts("2024-01-01T00:00:00")  # X5 kept
    # out-of-order older different-etag row in a later batch: without the
    # hwm this regressed the store to eB@t3
    inc.upsert_batch_into_store(
        store, _rows(spark, [("a", "eB", _ts("2024-01-03T00:00:00"), "v9")])
    )
    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert got["a"]["etag"] == "eA" and got["a"]["payload"] == "v1"
    # the same two rows in ONE batch give the identical outcome
    store2 = str(tmp_path / "hwmstore2")
    inc.upsert_batch_into_store(
        store2, _rows(spark, [("a", "eA", _ts("2024-01-01T00:00:00"), "v1")])
    )
    inc.upsert_batch_into_store(
        store2,
        _rows(
            spark,
            [
                ("a", "eA", _ts("2024-01-05T00:00:00"), "v1"),
                ("a", "eB", _ts("2024-01-03T00:00:00"), "v9"),
            ],
        ),
    )
    got2 = {r["uuid"]: r for r in spark.read.parquet(store2).collect()}
    assert got2["a"]["etag"] == got["a"]["etag"] == "eA"


def test_sessionize_late_events_across_batches(spark, tmp_path):
    """Cross-batch ordering regression: a later micro-batch carrying
    events BEFORE the open session must extend the session backward
    (in-gap) or form its own past session (out-of-gap) — the old
    single-cursor kernel swallowed both into the open session without
    moving its start."""
    land = str(tmp_path / "landing_late")
    # batch 1: open session at 10:00-10:05
    _rows(
        spark,
        [
            ("u1", "e", _ts("2024-01-01T10:00:00"), "p"),
            ("u1", "e", _ts("2024-01-01T10:05:00"), "p"),
        ],
    ).coalesce(1).write.mode("append").parquet(land)
    # batch 2 (separate file): one in-gap late event (09:45) and one
    # far-earlier event (06:00) that must close as its own session
    _rows(
        spark,
        [
            ("u1", "e", _ts("2024-01-01T09:45:00"), "p"),
            ("u1", "e", _ts("2024-01-01T06:00:00"), "p"),
        ],
    ).coalesce(1).write.mode("append").parquet(land)
    stream = inc.stream_from_directory(
        spark, land, SCHEMA, max_files_per_trigger=1
    )
    sessions = inc.sessionize(
        stream, "uuid", "modified", gap_seconds=1800, timeout_flush=False
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sessions_late").collect()
    closed = {
        (r["session_start"], r["session_end"], r["n_events"]) for r in rows
    }
    # the 06:00 singleton is the only CLOSED session; the 09:45-10:05
    # session (3 events, start extended backward) stays open in state
    assert (_ts("2024-01-01T06:00:00"), _ts("2024-01-01T06:00:00"), 1) in closed
    # no emitted session may start after its own end or after 09:45
    for r in rows:
        assert r["session_start"] <= r["session_end"]


def test_empty_batch_is_a_noop(spark, tmp_path):
    """An all-filtered micro-batch must not touch the store (the two-hop
    commit would otherwise write a schemaless staging dir whose
    read-back kills the stream)."""
    store = str(tmp_path / "emptystore")
    inc.upsert_batch_into_store(
        store, _rows(spark, [("a", "e1", _ts("2024-01-01T00:00:00"), "v1")])
    )
    empty = _rows(spark, []).limit(0)
    inc.upsert_batch_into_store(store, empty)
    got = {r["uuid"]: r for r in spark.read.parquet(store).collect()}
    assert set(got) == {"a"} and got["a"]["etag"] == "e1"


def test_streaming_neardup_gate(spark, tmp_path):
    """The near-dup gate end-to-end: batch 1 seeds corpus + index, batch
    2 carries a near-dup of an accepted doc (dropped), a replay of an
    accepted id (dropped — the at-least-once guard), and a novel doc
    (accepted and indexed); a full re-run of batch 2 accepts nothing."""
    from pyspark.sql import functions as F

    from idb_backend_spark.operators import neardup_index as ni

    land = str(tmp_path / "landing")
    idx = str(tmp_path / "ndidx")
    acc = str(tmp_path / "accepted")
    doc_schema = "doc_id long, text string"

    # cold start: empty index with the documents schema
    ni.build_neardup_index(
        spark.createDataFrame([], doc_schema), "text", "doc_id", idx
    )

    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        doc_schema,
    ).write.mode("append").parquet(land)
    q = inc.neardup_dedup_query(
        inc.stream_from_directory(spark, land, doc_schema),
        idx,
        acc,
        str(tmp_path / "ck_nd"),
    )
    q.awaitTermination(120)
    assert {
        r["doc_id"] for r in spark.read.parquet(acc).collect()
    } == {1}

    spark.createDataFrame(
        [
            # near-dup of accepted doc 1 -> dropped
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            # replay of an accepted id -> dropped
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            # novel -> accepted
            (11, "an entirely novel streaming document nothing shares"),
            # in-batch duplicate of the novel id -> one row kept; this
            # and the NULL id below previously wedged the query (the
            # add's guards raise, foreachBatch fails, the restarted
            # checkpoint replays the same batch forever)
            (11, "an entirely novel streaming document nothing shares"),
            (None, "null id row is dropped, never wedges the stream"),
        ],
        doc_schema,
    ).write.mode("append").parquet(land)
    q = inc.neardup_dedup_query(
        inc.stream_from_directory(spark, land, doc_schema),
        idx,
        acc,
        str(tmp_path / "ck_nd"),
    )
    q.awaitTermination(120)
    assert {
        r["doc_id"] for r in spark.read.parquet(acc).collect()
    } == {1, 11}
    # the novel doc joined the index: a near-copy of it now gates out
    probe = spark.createDataFrame(
        [(20, "an entirely novel streaming document nothing collides")],
        doc_schema,
    )
    got = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            probe, "text", "doc_id", idx, threshold=0.5
        ).collect()
    }
    assert got == {(20, 11)}


def test_neardup_gate_crash_between_store_and_index_recovers(
    spark, tmp_path, monkeypatch
):
    """The store-first crash contract: a batch that lands in the
    accepted store but crashes before the index add is RE-ACCEPTED on
    the at-least-once replay (its ids pass the replay guard), leaving a
    second identical store copy — folded by read_accepted — and finally
    indexed. No document is ever lost; the index-first order would drop
    the replay and lose the doc from the store permanently."""
    from idb_backend_spark.operators import neardup_index as ni

    idx = str(tmp_path / "ndidx")
    acc = str(tmp_path / "accepted")
    doc_schema = "doc_id long, text string"
    ni.build_neardup_index(
        spark.createDataFrame([], doc_schema), "text", "doc_id", idx
    )
    batch = spark.createDataFrame(
        [(7, "a document that survives the crash window intact")],
        doc_schema,
    )

    real_add = ni.add_to_neardup_index

    def crash_after_store(*a, **kw):
        raise RuntimeError("injected crash between store append and index add")

    monkeypatch.setattr(ni, "add_to_neardup_index", crash_after_store)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.neardup_gate_batch(batch, idx, acc)
    monkeypatch.setattr(ni, "add_to_neardup_index", real_add)

    # crash window state: stored but not indexed
    assert [r["doc_id"] for r in spark.read.parquet(acc).collect()] == [7]
    assert ni.present_ids(
        spark, idx, batch.select(F.col("doc_id").alias("id"))
    ).count() == 0

    # the at-least-once replay of the SAME batch converges
    inc.neardup_gate_batch(batch, idx, acc)
    raw = spark.read.parquet(acc).collect()
    assert len(raw) == 2  # the store holds the replay's second copy...
    folded = inc.read_accepted(spark, acc).collect()
    assert [(r["doc_id"], r["text"]) for r in folded] == [
        (7, "a document that survives the crash window intact")
    ]  # ...and the read contract folds it
    assert ni.present_ids(
        spark, idx, batch.select(F.col("doc_id").alias("id"))
    ).count() == 1
    # a further replay is a no-op on both sides (replay guard)
    inc.neardup_gate_batch(batch, idx, acc)
    assert inc.read_accepted(spark, acc).count() == 1
    near = spark.createDataFrame(
        [(8, "a document that survives the crash window mostly")],
        doc_schema,
    )
    inc.neardup_gate_batch(near, idx, acc)  # near-dup of 7 -> dropped
    assert {r["doc_id"] for r in inc.read_accepted(spark, acc).collect()} == {7}


def test_neardup_gate_survives_mid_stream_compaction(spark, tmp_path):
    """The maintenance loop closed end-to-end: gate a batch, COMPACT the
    index between micro-batches (writer stopped — the single-writer
    contract), then gate another batch against the compacted index. The
    compacted index must still drop near-dups of pre-compaction docs,
    accept novel ones, and replay-guard pre-compaction ids."""
    from idb_backend_spark.operators import neardup_index as ni

    idx = str(tmp_path / "ndidx")
    acc = str(tmp_path / "accepted")
    doc_schema = "doc_id long, text string"
    ni.build_neardup_index(
        spark.createDataFrame([], doc_schema), "text", "doc_id", idx
    )
    inc.neardup_gate_batch(
        spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                (2, "completely different second document body entirely"),
            ],
            doc_schema,
        ),
        idx,
        acc,
    )
    rows_path = idx.rstrip("/") + "/rows"
    files_before = len(spark.read.parquet(rows_path).inputFiles())
    ni.compact_neardup_index(spark, idx)
    spark.catalog.refreshByPath(rows_path)
    assert len(spark.read.parquet(rows_path).inputFiles()) <= files_before

    inc.neardup_gate_batch(
        spark.createDataFrame(
            [
                # near-dup of pre-compaction doc 1 -> dropped
                (10, "the quick brown fox jumps over the lazy cat tonight"),
                # replay of a pre-compaction id -> dropped
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                # novel -> accepted and indexed
                (11, "an entirely novel post compaction document body"),
            ],
            doc_schema,
        ),
        idx,
        acc,
    )
    assert {
        r["doc_id"] for r in inc.read_accepted(spark, acc).collect()
    } == {1, 2, 11}
    # the post-compaction accept joined the index too
    got = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            spark.createDataFrame(
                [(20, "an entirely novel post compaction document text")],
                doc_schema,
            ),
            "text",
            "doc_id",
            idx,
            threshold=0.5,
        ).collect()
    }
    assert got == {(20, 11)}
