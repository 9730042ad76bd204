"""SURVEY §2.10 entries — the streaming paths EXECUTED under the
driver's batch-SQL oracle gate.

`streaming_windowed_rollup` (q_parity) proved the harness pattern;
these close the remaining unit-only streaming surfaces:

* ``streaming_incremental_merge`` — the engine's CDC story (the Spark
  replacement for the reference's poll-loop daemon,
  index_from_postgres.py:25-164): seed a bucket-partitioned store, then
  replay a change feed carrying in-batch version churn, etag-unchanged
  rows, tombstones, and brand-new keys through the actual
  ``foreachBatch`` merge across multiple micro-batches, and grade the
  resulting latest view against a batch FULL OUTER JOIN oracle.
* ``sessionize`` — the custom stateful operator
  (``applyInPandasWithState``, SURVEY §2.10) graded against a DuckDB
  gaps-and-islands oracle.
* ``streaming_exact_dedup`` — T1's streaming twin through the real
  dedup state store, graded against batch DISTINCT.

Determinism notes live on each entry; both stage their inputs in
tempdirs reclaimed once the memory sink / store read has what it needs.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid as _uuid

from pyspark.sql import functions as F

from idb_backend_spark.functions.etags import TOMBSTONE_ETAG
from idb_backend_spark.functions.text import NORM_SQL, normalize_text
from idb_backend_spark.plans.registry import _t, query, staging_dir


_MERGE_ORACLE = (
    # seed = the store before the feed; batch_raw = the change feed with
    # TWO versions per key (the newer wins inside the merge); merged =
    # reference upsert semantics: new keys insert, changed etags replace,
    # unchanged etags keep the STORE row (etag-skip — the store's
    # `modified` survives), tombstones are upserts with the fixed etag
    "WITH seed AS (SELECT o_orderkey AS uuid, o_orderstatus AS etag, "
    "  o_orderkey + 1000000 AS modified FROM orders WHERE o_orderkey % 3 != 0), "
    "batch_raw AS ("
    "  SELECT o_orderkey AS uuid, "
    f"    CASE WHEN o_orderkey % 11 = 0 THEN '{TOMBSTONE_ETAG}' "
    "      WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS etag, "
    "    o_orderkey + 2000000 AS modified "
    "  FROM orders WHERE o_orderkey % 2 != 0 "
    "  UNION ALL "
    "  SELECT o_orderkey, 'STALE', o_orderkey + 1500000 "
    "  FROM orders WHERE o_orderkey % 2 != 0), "
    "batch AS (SELECT uuid, etag, modified FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY uuid ORDER BY modified DESC)"
    "    AS rn FROM batch_raw) WHERE rn = 1), "
    "merged AS (SELECT coalesce(b.uuid, s.uuid) AS uuid, "
    "  CASE WHEN b.uuid IS NULL OR s.etag = b.etag THEN s.etag "
    "    ELSE b.etag END AS etag, "
    "  CASE WHEN b.uuid IS NULL OR s.etag = b.etag THEN s.modified "
    "    ELSE b.modified END AS modified "
    "  FROM seed s FULL OUTER JOIN batch b ON s.uuid = b.uuid) "
    f"SELECT uuid, etag, modified, etag != '{TOMBSTONE_ETAG}' AS is_live "
    "FROM merged ORDER BY uuid"
)


@query("streaming_incremental_merge", _MERGE_ORACLE)
def streaming_incremental_merge(spark, sf_dir):
    """§2.10 CDC executed — seed a bucket-partitioned store through the
    merge body, then stream a change feed (4 key-partitioned landing
    files, ``maxFilesPerTrigger=1`` ⇒ 4 real micro-batches) through
    ``incremental_merge_query``'s ``foreachBatch`` upsert and grade the
    final store contents.

    The feed exercises every merge arm: two versions per key inside the
    feed (ordered-replay collapse, O2), etag-unchanged rows (X5 skip —
    the STORE row with its older `modified` must survive), tombstone
    upserts (U2 — the fixed tombstone etag lands as the latest version,
    `is_live` turns false), and new keys (insert). Landing files are
    partitioned BY KEY so a key's churn shares a micro-batch; the
    upsert's monotonic-replay guard makes the outcome file-order
    independent anyway (incremental.py:upsert_batch_into_store).
    """
    from idb_backend_spark.streaming import incremental as inc

    orders = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    seed = orders.filter(ok % 3 != 0).select(
        ok.alias("uuid"),
        F.col("o_orderstatus").alias("etag"),
        (ok + 1000000).cast("bigint").alias("modified"),
    )
    newer = orders.filter(ok % 2 != 0).select(
        ok.alias("uuid"),
        F.when(ok % 11 == 0, TOMBSTONE_ETAG)
        .when(ok % 5 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("etag"),
        (ok + 2000000).cast("bigint").alias("modified"),
    )
    stale = orders.filter(ok % 2 != 0).select(
        ok.alias("uuid"),
        F.lit("STALE").alias("etag"),
        (ok + 1500000).cast("bigint").alias("modified"),
    )
    feed = newer.unionByName(stale)

    # the returned frame lazily reads the merged store under `work` —
    # reclaimed at interpreter exit, after the driver has consumed it
    work = staging_dir("inc_merge_")
    store_path = os.path.join(work, "store")
    landing = os.path.join(work, "landing")
    ckpt = os.path.join(work, "ckpt")

    # the seed commit goes through the same upsert body (fresh store)
    inc.upsert_batch_into_store(store_path, seed)
    feed.repartition(4, "uuid").write.mode("overwrite").parquet(landing)
    stream = inc.stream_from_directory(
        spark, landing, feed.schema, max_files_per_trigger=1
    )
    sq = inc.incremental_merge_query(stream, store_path, ckpt)
    sq.awaitTermination()
    return (
        spark.read.parquet(store_path)
        .select(
            "uuid",
            "etag",
            "modified",
            (F.col("etag") != TOMBSTONE_ETAG).alias("is_live"),
        )
        .orderBy("uuid")
    )


#: inactivity gap for the graded sessionization — 4 h over the events
#: table yields a healthy mix of single- and multi-event sessions at
#: every SF (median inter-event gap per user is ~11 h at sf0.01)
_SESSION_GAP_S = 4 * 3600

_SESSION_ORACLE = (
    # gaps-and-islands replica of the stateful operator. The streaming
    # side only EMITS sessions closed by a later event (open sessions
    # stay in state at end-of-feed), so the oracle drops each user's
    # final session — the one holding that user's max ts.
    "WITH d AS (SELECT user_id, ts, "
    "  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
    f"      > INTERVAL {_SESSION_GAP_S} SECOND "
    "    THEN 1 ELSE 0 END AS new_s FROM events), "
    "s AS (SELECT user_id, ts, sum(new_s) OVER ("
    "  PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
    "  FROM d), "
    "g AS (SELECT user_id, sid, min(ts) AS session_start, "
    "  max(ts) AS session_end, count(*) AS n_events "
    "  FROM s GROUP BY user_id, sid), "
    "m AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY user_id) "
    "SELECT g.user_id AS user_id, g.session_start, g.session_end, "
    "  g.n_events "
    "FROM g JOIN m ON g.user_id = m.user_id AND g.sid < m.last_sid "
    "ORDER BY g.user_id, g.session_start"
)


def _drain_memory_sink(spark, stream_df, prefix, workdir, shape):
    """Run an availableNow streaming frame to a memory sink, apply
    ``shape`` to the sink table, and return the rows DETACHED from the
    sink (collect + rebuild). One helper for every streaming entry so
    the cleanup contract lives in one place: the landing dir is
    reclaimed and the sink's temp view dropped on every path, including
    an awaitTermination failure — repeated runs never accumulate
    in-memory result tables on the driver."""
    qname = prefix + _uuid.uuid4().hex[:8]
    sq = (
        stream_df.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        sq.awaitTermination()
        # the memory sink has materialized every emitted row
        out = shape(spark.table(qname))
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        # one finally for EVERY exit, including an awaitTermination
        # failure: stop the (possibly still-registered) query, drop the
        # sink view, reclaim the landing dir — a failed retry loop must
        # not accumulate driver-side result tables or stream handles
        try:
            sq.stop()
        except Exception:
            pass
        try:
            spark.catalog.dropTempView(qname)
        except Exception:
            pass
        shutil.rmtree(workdir, ignore_errors=True)


@query("sessionize", _SESSION_ORACLE)
def sessionize_q(spark, sf_dir):
    """§2.10 custom stateful operator executed — per-user session
    assembly over the events table through the real
    ``applyInPandasWithState`` path, graded against the batch
    gaps-and-islands oracle.

    Determinism: the feed is staged as ONE landing file ⇒ one
    micro-batch, so every closed session is emitted in this run and the
    emitted set is exactly "all sessions except each user's last"
    (open sessions remain in state — ``timeout_flush=False`` registers
    no state timeouts, so the AvailableNow run terminates instead of
    scheduling empty micro-batches forever waiting to fire them).
    Timestamps
    round-trip Spark⇄pandas in session-TZ wall clock, matching the
    oracle's naive values (same reasoning as streaming_windowed_rollup).
    """
    from idb_backend_spark.streaming.incremental import sessionize

    events = _t(spark, sf_dir, "events").select(
        # the stateful operator keys on a string column; cast back below
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    work = tempfile.mkdtemp(prefix="sessionize_")
    landing = os.path.join(work, "landing")
    events.coalesce(1).write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(
        spark.read.parquet(landing).schema
    ).parquet(landing)
    sessions = sessionize(
        stream, "user_id", "ts", gap_seconds=_SESSION_GAP_S,
        timeout_flush=False,
    )
    return _drain_memory_sink(
        spark, sessions, "sessions_", work,
        lambda t: t.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "session_start",
            "session_end",
            "n_events",
        ).orderBy("user_id", "session_start"),
    )


@query(
    "streaming_exact_dedup",
    # the deduped stream carries exactly the distinct fingerprints; WHICH
    # physical row survives per fingerprint is arrival-order-dependent, so
    # the graded projection is the fingerprint set itself
    "SELECT DISTINCT md5(" + NORM_SQL + ")"
    " AS fp FROM documents ORDER BY fp",
)
def streaming_exact_dedup(spark, sf_dir):
    """T1's streaming twin executed — exact dedup by content fingerprint
    through the real streaming state store (streamed_exact_dedup,
    unbounded mode: this is a bounded replay), graded against batch
    DISTINCT. Which arrival survives is racy across partitions, so the
    entry grades the surviving fingerprint SET — exactly what exact
    dedup promises."""
    from idb_backend_spark.streaming.incremental import streamed_exact_dedup

    # the ONE normalized form (folded lower — see functions/text.py);
    # an inlined lower() here had already drifted from the oracle's
    # folded NORM_SQL on the U+0130/final-sigma class
    docs = _t(spark, sf_dir, "documents").select(
        F.md5(normalize_text("text")).alias("fp"),
        "doc_id",
    )
    work = tempfile.mkdtemp(prefix="stream_dedup_")
    landing = os.path.join(work, "landing")
    docs.coalesce(1).write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(
        spark.read.parquet(landing).schema
    ).parquet(landing)
    deduped = streamed_exact_dedup(stream, ["fp"])
    return _drain_memory_sink(
        spark, deduped, "sdedup_", work,
        lambda t: t.select("fp").orderBy("fp"),
    )


_SESSION_ALL_ORACLE = (
    # the batch twin emits EVERY session (no open-session holdback)
    "WITH d AS (SELECT user_id, ts, "
    "  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
    f"      > INTERVAL {_SESSION_GAP_S} SECOND "
    "    THEN 1 ELSE 0 END AS new_s FROM events), "
    "s AS (SELECT user_id, ts, sum(new_s) OVER ("
    "  PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid "
    "  FROM d) "
    "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, "
    "  count(*) AS n_events "
    "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"
)


@query("sessionize_batch", _SESSION_ALL_ORACLE)
def sessionize_batch_q(spark, sf_dir):
    """The batch twin of `sessionize` — gaps-and-islands natively
    (operators/aggregates.py:sessionize_batch): one exchange on the key
    feeds the windows AND the final aggregation; emits EVERY session
    including each user's open last one, which is exactly what the
    batch analytics view wants."""
    from idb_backend_spark.operators.aggregates import sessionize_batch

    events = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return sessionize_batch(
        events, "user_id", "ts", gap_seconds=_SESSION_GAP_S
    ).orderBy("user_id", "session_start")
