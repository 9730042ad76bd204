"""§2.10 — Structured Streaming: incremental index refresh, watermarked
rollups, and custom stateful sessionization.

The reference's incremental loop (index_from_postgres.py:25-164) polls a
``max(datemodified)`` watermark and replays every version newer than it
**in ascending modified order** (the correctness note at :94-97), applying
idempotent upserts keyed by uuid with etag-equality skip (:211-214). The
Spark-native shape is a file/Delta stream with ``foreachBatch`` merge:
Structured Streaming supplies exactly-once batch boundaries and the
watermark bookkeeping the reference hand-rolls; the merge body reuses the
batch operators (versioning.latest_per_key_agg / merge_batch).

Scale notes:
* ``foreachBatch`` merge: the batch side is pre-shrunk to latest-per-key
  before touching the store — the shuffle is bounded by distinct keys in
  the micro-batch, not batch row count.
* Watermark + window aggregation state lives in the state store, sized by
  (group × open-window), independent of stream length.
* ``applyInPandasWithState`` carries per-key session state (the engine's
  custom-stateful extension point — the reference has no session concept).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idb_backend_spark.operators.versioning import latest_per_key_agg


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory (the engine's analog of
    the reference's poll loop — new files are the change feed)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


#: layout constant for the merge store: uuid-hash directory partitions.
#: Size it so (store size / buckets) stays a comfortable rewrite unit —
#: each micro-batch rewrites only the buckets its keys hash into.
N_MERGE_BUCKETS = 32


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete a path through the Hadoop FileSystem API —
    works for any store filesystem (local, HDFS, object stores), unlike
    a driver-local shutil."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _bucket_of(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """Existence probe narrowed to path-not-found: any OTHER read failure
    (permissions, corrupt footer, FS hiccup) propagates — treating it as
    'store is empty' would silently replace the store with one batch."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(store_path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def upsert_batch_into_store(
    store_path: str,
    batch: DataFrame,
    key: str = "uuid",
    modified_col: str = "modified",
    etag_col: str = "etag",
    n_buckets: int = N_MERGE_BUCKETS,
) -> None:
    """One ``foreachBatch`` body: ordered replay + idempotent upsert,
    rewriting ONLY the key-hash buckets the micro-batch touches.

    1. Collapse the micro-batch to its newest version per key (the
       ascending-modified replay collapses to last-writer-wins within the
       batch boundary — O2, index_from_postgres.py:94-97).
    2. Skip rows whose etag equals the store's current etag (X5 — the
       store row and its ``modified`` survive), and skip CHANGED rows
       that are not strictly newer than the key's HIGH-WATER MARK
       ``__hwm`` — the monotonic-replay guard. The hwm records the
       newest feed observation ever seen for the key, including
       etag-equal skips (which bump the hwm without touching the
       visible row): guarding on the visible ``modified`` alone would
       let an out-of-order older-but-different-etag row through AFTER
       an etag-equal skip, making the outcome batch-boundary-dependent.
       With the hwm, the merge converges to the version carried by the
       newest-modified feed row per key no matter how the files are
       batched (ties keep the store row — a replayed duplicate is a
       no-op).
    3. Merge (touched-buckets ∖ batch-keys) ∪ batch-latest and commit via
       dynamic partition overwrite: the store is laid out as
       ``__bucket=N`` directories keyed by uuid hash, the merge reads only
       the touched buckets (partition pruning), and the overwrite replaces
       only those directories. IO per batch is O(touched buckets), not
       O(store) — the property that keeps a 100 TB store mergeable.

    Parquet has no cross-partition transaction: each partition directory
    swap is Spark's commit-protocol rename, so a crash can leave a touched
    bucket mid-commit (Delta's ``MERGE INTO`` is the transactional
    upgrade); untouched buckets are never at risk.

    An existing store must carry the ``__bucket`` layout and the
    ``__hwm`` column this function writes; a store without them raises
    ``ValueError`` and is left untouched.
    """
    spark = batch.sparkSession
    # etag as the final order column: same-timestamp different-etag rows
    # for one key must collapse DETERMINISTICALLY (latest_per_key_agg's
    # own contract asks for a unique tie-breaker) or the store would
    # converge differently per partitioning/retry
    newest = latest_per_key_agg(
        batch, [key], [modified_col, etag_col]
    ).withColumn("__bucket", _bucket_of(key, n_buckets))
    if newest.isEmpty():
        # an all-filtered micro-batch is a no-op — proceeding would
        # write a zero-row staging directory whose read-back cannot
        # infer a schema and kills the stream
        return
    store = _read_store(spark, store_path)
    if store is not None:
        missing = [c for c in ("__bucket", "__hwm") if c not in store.columns]
        if missing:
            raise ValueError(
                f"store {store_path} lacks column(s) {', '.join(missing)}: "
                "not a bucketed merge store"
            )
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if store is None:
            newest.withColumn("__hwm", F.col(modified_col)).write.mode(
                "overwrite"
            ).partitionBy("__bucket").parquet(store_path)
            return
        touched = [
            r["__bucket"]
            for r in newest.select("__bucket").distinct().collect()
        ]
        scoped = store.filter(F.col("__bucket").isin(touched))
        probe = newest.join(
            scoped.select(
                F.col(key),
                F.col(etag_col).alias("__cur_etag"),
                F.col("__hwm").alias("__cur_hwm"),
            ),
            on=key,
            how="left",
        )
        newer = F.col("__cur_hwm").isNull() | (
            F.col(modified_col) > F.col("__cur_hwm")
        )
        # new visible version: unseen key, or a different etag strictly
        # newer than everything observed so far
        changed = (
            probe.filter(
                F.col("__cur_etag").isNull()
                | ((F.col("__cur_etag") != F.col(etag_col)) & newer)
            )
            .withColumn(
                "__hwm",
                F.greatest(
                    F.col(modified_col),
                    F.coalesce(F.col("__cur_hwm"), F.col(modified_col)),
                ),
            )
            .drop("__cur_etag", "__cur_hwm")
        )
        # etag-equal observation newer than the hwm: the visible store
        # row survives untouched, but the hwm must advance or a later
        # out-of-order different-etag row would be wrongly admitted
        bumped_keys = probe.filter(
            (F.col("__cur_etag") == F.col(etag_col)) & newer
        ).select(F.col(key), F.col(modified_col).alias("__new_hwm"))
        rewritten = scoped.join(bumped_keys, on=key, how="inner").withColumn(
            "__hwm", F.greatest(F.col("__hwm"), F.col("__new_hwm"))
        ).drop("__new_hwm")
        merged = (
            scoped.join(
                changed.select(key)
                .unionByName(bumped_keys.select(key))
                .distinct(),
                on=key,
                how="left_anti",
            )
            .unionByName(changed)
            .unionByName(rewritten)
        )
        # TWO-HOP commit: the merged rows must be durable somewhere
        # before the overwrite deletes their source files. A
        # localCheckpoint would cut the lineage into NON-REPLICATED
        # executor blocks — lose one executor mid-overwrite and the rows
        # are unrecomputable while the store is already truncated.
        # Instead: (1) write the merged delta to a sibling staging
        # directory — this hop reads the live store, so any failure
        # leaves the store untouched and the batch simply retries; (2)
        # rewrite the store FROM the staging files — this hop never reads
        # the files it deletes, and a crash mid-overwrite leaves the full
        # delta on disk in staging for recovery. IO cost is one extra
        # pass over the touched-bucket delta.
        staging = store_path.rstrip("/") + "__staging"
        _delete_path(spark, staging)  # stale staging from a prior crash
        merged.write.mode("overwrite").partitionBy("__bucket").parquet(
            staging
        )
        spark.read.parquet(staging).write.mode("overwrite").partitionBy(
            "__bucket"
        ).parquet(store_path)
        _delete_path(spark, staging)
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )


def incremental_merge_query(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key: str = "uuid",
    modified_col: str = "modified",
    etag_col: str = "etag",
    available_now: bool = True,
):
    """Wire the stream into the merge loop (the Spark replacement for the
    reference's sleep-600 polling daemon)."""
    writer = (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda b, _eid: upsert_batch_into_store(
                store_path, b, key, modified_col, etag_col
            )
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_rollup(
    stream: DataFrame,
    ts_col: str,
    group_cols: list[str],
    window: str = "1 day",
    watermark: str = "1 hour",
    value_col: str | None = None,
) -> DataFrame:
    """A7 as a streaming aggregation: watermarked tumbling-window rollup —
    late rows inside the watermark still land in their window; older ones
    are dropped deterministically (the reference reprocesses whole days
    instead; the watermark bound is the streaming equivalent)."""
    aggs = [F.count(F.lit(1)).alias("count")]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 2).alias("total"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), *group_cols)
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"), *group_cols, *[
                F.col(c) for c in (["count", "total"] if value_col else ["count"])
            ]
        )
    )


def streamed_exact_dedup(
    stream: DataFrame,
    key_cols: list[str],
    watermark_col: str | None = None,
    within_watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup — the T1 operator's streaming twin: emit
    each distinct key's FIRST arrival, suppress the rest.

    Without a watermark the state grows with distinct keys (exact global
    dedup — the batch pipeline's semantics, right for bounded replays).
    With ``within_watermark`` the state is bounded: duplicates are only
    suppressed within the watermark horizon
    (``dropDuplicatesWithinWatermark``), the contract a 100 TB infinite
    feed needs — state sized by keys-per-horizon, not keys-ever.
    """
    if within_watermark is not None:
        if watermark_col is None:
            raise ValueError("within_watermark requires watermark_col")
        return stream.withWatermark(
            watermark_col, within_watermark
        ).dropDuplicatesWithinWatermark(key_cols)
    return stream.dropDuplicates(key_cols)


def sessionize(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    timeout_flush: bool = True,
):
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    session assembly with an inactivity gap — the engine's extension point
    for stateful logic Spark lacks natively (SURVEY §2.10).

    Emits (key, session_start, session_end, n_events) per closed session;
    with ``timeout_flush`` (the long-running-service default), open
    sessions also flush when the processing-time timeout fires.

    ``timeout_flush=False`` registers NO state timeouts: open sessions
    stay in state and only later-event closure emits. Use it for bounded
    replays — pending processing-time timeouts keep a stateful query
    scheduling micro-batches indefinitely, so an AvailableNow run with
    timeouts registered never terminates.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} string, session_start timestamp, session_end timestamp, "
        "n_events long"
    )
    state_schema = "start long, end long, n long"

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            (start, end, n) = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                }
            )
            return
        rows = pd.concat(list(pdfs))
        # NaT timestamps would make astype('int64') raise and kill the
        # query; an event with no timestamp simply cannot be sessionized
        ts = rows[ts_col].dropna().sort_values()
        micros = (ts.astype("int64") // 1000).tolist()  # ns -> us
        gap_us = gap_seconds * 1_000_000

        # Interval-merge over SEGMENTS, not a single running session:
        # file streams promise no cross-batch ordering, so a later
        # micro-batch can carry events BEFORE the open session's start.
        # An in-gap late event extends the session backward; an earlier
        # out-of-gap event forms its own (past) session — the old
        # single-cursor loop silently swallowed both into the open
        # session without moving its start, emitting sessions that began
        # after their own member events and diverging from the batch
        # twin (sessionize_batch).
        # Gap-chained clustering is order-independent (connected
        # components of the "within gap" relation over points), so ONE
        # sort + ONE linear sweep over [state segment] + point segments
        # yields the same partition a per-event place-and-remerge loop
        # would — in O(n log n) instead of the quadratic per-event
        # re-sort that stalls a 100k-event key in the stateful hot path.
        segs: list[list[int]] = []
        if state.exists:
            s0, e0, n0 = state.get
            segs.append([s0, e0, n0])
        segs.extend([t, t, 1] for t in micros)
        if not segs:
            return
        segs.sort(key=lambda s: s[0])
        merged = [segs[0]]
        for s in segs[1:]:
            if s[0] - merged[-1][1] <= gap_us:
                merged[-1][1] = max(merged[-1][1], s[1])
                merged[-1][2] += s[2]
            else:
                merged.append(s)
        segs = merged
        # the newest segment stays open in state; every earlier one is
        # closed (nothing can rejoin it except events later proven late,
        # the bounded imprecision any single-segment state model carries)
        keep = segs[-1]
        sessions = [tuple(s) for s in segs[:-1]]
        state.update((keep[0], keep[1], keep[2]))
        if timeout_flush:
            state.setTimeoutDuration(gap_seconds * 1000)
        if sessions:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(sessions),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                    "n_events": [n for _, _, n in sessions],
                }
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_flush
            else GroupStateTimeout.NoTimeout
        ),
    )


def neardup_gate_batch(
    batch: DataFrame,
    index_path: str,
    accepted_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> None:
    """One ``foreachBatch`` body: near-dup GATE a document batch against
    the persistent MinHash index (operators/neardup_index.py) — the
    streaming composition of the maintenance tier: each micro-batch is
    checked against everything already accepted in O(batch), accepted
    docs join the index so LATER batches dedup against them too.

    Three-way split of the batch:
      * ids already IN the index — replays of a previously processed
        epoch (foreachBatch is at-least-once): dropped, so a crash-retry
        cannot double-accept;
      * near-dups of an indexed doc (signature-estimate probe at the
        threshold): dropped;
      * the rest is accepted — appended to ``accepted_path`` FIRST,
        then added to the index. STORE-FIRST is load-bearing: a crash
        between the two appends leaves rows in the store but absent
        from the index, and the at-least-once replay re-accepts them
        (their ids pass the replay guard, the probe cannot self-match
        an unindexed doc) — appending a second identical copy to the
        store and then indexing them, so the gate converges with no
        document ever lost. The index-first order would be the opposite
        failure: replayed ids already indexed are dropped by the replay
        guard and the documents would be PERMANENTLY missing from the
        store with nothing to replay them. The price of store-first is
        the store's ID-DEDUP-ON-READ contract: duplicate store rows are
        byte-identical replays of one accepted doc — read the store
        through ``read_accepted`` (below), which folds them.

    In-batch duplicates are NOT gated here — compose minhash_lsh_pairs /
    exact_dedup upstream if the feed can repeat content within one
    micro-batch; this gate's contract is batch-vs-corpus.
    """
    from idb_backend_spark.operators import neardup_index as ni

    if batch.isEmpty():
        return
    spark = batch.sparkSession
    # Feed hygiene BEFORE the pipeline — both cases would otherwise
    # poison-pill the query (add_to_neardup_index raises, foreachBatch
    # fails, and the restarted checkpoint replays the SAME batch into
    # the same raise, forever):
    #  * NULL ids can never be replay-guarded (NULL joins nothing) —
    #    dropped;
    #  * an id repeated within one micro-batch (at-least-once sources,
    #    unioned feeds) keeps one arbitrary row — the same
    #    arrival-order-racy contract streamed_exact_dedup documents.
    batch = batch.filter(F.col(id_col).isNotNull()).dropDuplicates(
        [id_col]
    )
    # replay guard: exact ids already indexed — the operator module's
    # own bounded check (never reach into the index's physical layout)
    ids = batch.select(F.col(id_col).alias("id")).distinct()
    present = ni.present_ids(spark, index_path, ids)
    # pin: the probe evaluates `fresh` more than once (its size-gate
    # count plus the signature pass) and the accept anti-join reads it
    # again — without the pin each consumer would re-run the replay
    # guard's index id scan
    fresh = batch.join(
        present.select(F.col("id").alias(id_col)), id_col, "left_anti"
    ).localCheckpoint(eager=True)
    dup_ids = (
        ni.probe_neardup_index(
            fresh, text_col, id_col, index_path, threshold=threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    accepted = fresh.join(dup_ids, id_col, "left_anti").localCheckpoint(
        eager=True
    )
    # store FIRST, index second (docstring: the crash-recovery order)
    accepted.write.mode("append").parquet(accepted_path)
    # assume_fresh: this batch was already anti-joined against the index
    # above — the add's own idempotency scan would be a repeat job
    ni.add_to_neardup_index(
        accepted, text_col, id_col, index_path, assume_fresh=True
    )


def read_accepted(
    spark: SparkSession, accepted_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """THE read path for the gate's accepted store — parquet scan +
    drop-duplicates on ``id_col``. The gate appends store-first (see
    ``neardup_gate_batch``), so a crash between the store append and
    the index add leaves the replayed batch's rows in the store twice;
    the copies are byte-identical (same accepted doc, same batch
    content), so any one row per id IS the accepted document. One
    exchange on the id; consumers that only aggregate per-id can fold
    this into their own grouping instead."""
    return spark.read.parquet(accepted_path).dropDuplicates([id_col])


def neardup_dedup_query(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Wire a document stream through the near-dup gate. The index must
    be built before the stream starts (``build_neardup_index`` over the
    already-accepted corpus, or over an empty frame with the documents
    schema for a cold start)."""
    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda b, _eid: neardup_gate_batch(
                b, index_path, accepted_path, text_col, id_col, threshold
            )
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
