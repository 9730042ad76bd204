"""Versioned-store operators: latest-per-key, version assignment, merge.

The reference keeps an append-only version history (uuids_data,
db.py:280-286) and resolves "latest" with a LATERAL top-1-per-uuid join
(db.py:37-44). In Spark that is a ``max_by`` aggregation
(latest_per_key_agg): map-side partial aggregation, so the shuffle
carries one row per key and map partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from idb_backend_spark.functions.etags import TOMBSTONE_ETAG


def latest_per_key_agg(
    df: DataFrame,
    keys: list[str],
    order_cols: list[Column | str],
) -> DataFrame:
    """J1/W1 via aggregation instead of a window sort.

    ``max_by(struct(*), struct(order_cols))`` computes top-1-per-key
    with map-side partial aggregation: the shuffle carries one row per
    (key, map-partition) instead of every row. Physical shape, honestly:
    max_by's struct-typed buffer is a DECLARATIVE
    aggregate with non-mutable buffer fields, so Spark plans
    SortAggregate — each MAP partition is sorted by the grouping key
    before the partial phase (local CPU, no extra IO or exchange).
    That is still the scale-winning plan: the window form shuffles and
    sorts EVERY row globally, while here the post-shuffle side touches
    only the collapsed partials. Orderings that cannot be expressed as
    a struct max (mixed asc/desc on non-negatable types) are out of its
    reach.

    ``order_cols``: columns whose natural descending max order IS the
    "latest" order (e.g. modified, version, unique tie-breaker last).

    Shape note (Catalyst convergence): the winning row's fields are
    extracted INSIDE the Aggregate's result expressions
    (``max_by(payload, order).getField(c)``) rather than through a
    ``select(__row.c ...)`` projection above it. The extraction-Project
    form put a nested-field Project directly under the store's
    semi/anti joins, and ``PushDownLeftSemiAntiJoin`` vs
    ``ColumnPruning``'s NestedColumnAliasing then ping-ponged the join
    across that Project with fresh ``_extract_*`` aliases every
    iteration — the optimizer hit ``Max iterations (100)`` without
    reaching a fixpoint (SCALING.md, "Catalyst convergence: the Max
    iterations (100) cycle closed").
    Row atomicity is preserved: the N ``max_by`` calls are structurally
    identical, so PhysicalAggregation dedupes them to ONE aggregation
    buffer — one winner row, fields torn from the same struct.
    """
    non_keys = [c for c in df.columns if c not in keys]
    if not non_keys:
        # degenerate all-columns-are-keys call: agg() rejects an empty
        # expression list, and with no payload beyond the key "latest
        # per key" is just the distinct keys
        return df.dropDuplicates(keys).select(*df.columns)
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    payload = F.struct(*[F.col(c) for c in df.columns])
    row = F.max_by(payload, F.struct(*ocols))
    picked = df.groupBy(*keys).agg(
        *[row.getField(c).alias(c) for c in non_keys]
    )
    return picked.select(*df.columns)


def with_version_numbers(
    df: DataFrame, keys: list[str], order_by: list[Column], out: str = "version"
) -> DataFrame:
    """W2 — monotonically increasing version per key, starting at 0
    (db.py:144-155: the sentinel ``-1`` union row makes the first insert
    version ``-1 + 1 = 0``).

    Precisely: the reference increments the version of the
    MOST-RECENTLY-MODIFIED row (``ORDER BY modified DESC NULLS LAST
    LIMIT 1 ... version+1``), NOT ``max(version)+1`` — identical
    whenever ``modified`` is monotone per key (it is: the store stamps
    it at insert), and replayed over an ordered history this is a dense
    rank from 0. The reference's modified-DESC pick has no tie-break;
    the engine's latest view orders by a (modified, version) struct so
    ties resolve deterministically."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(out, F.row_number().over(w) - 1)


def _dedupe_batch(batch: DataFrame, key: str, etag_col: str) -> DataFrame:
    """Collapse in-batch duplicate keys to ONE row per key: min_by etag
    (the smallest etag wins — deterministic under any partitioning).
    Same map-side-partial hash-agg shape as latest_per_key_agg.

    The ordering key is null-coalesced: min_by SKIPS rows whose order
    value is NULL, so a key whose only rows carry a null etag would
    otherwise collapse to an all-NULL row and the record would be lost
    ('' sorts before every real etag — a null-etag row wins the tie,
    which is as deterministic as any other rule).

    Fields are extracted inside the Aggregate's result expressions
    (same single-buffer shape as latest_per_key_agg — see the Catalyst
    convergence note there)."""
    non_keys = [c for c in batch.columns if c != key]
    if not non_keys:
        # key-only frame: nothing to pick an etag winner from (agg()
        # rejects an empty expression list)
        return batch.dropDuplicates([key]).select(*batch.columns)
    payload = F.struct(*[F.col(c) for c in batch.columns])
    order = F.coalesce(F.col(etag_col).cast("string"), F.lit(""))
    row = F.min_by(payload, order)
    picked = batch.groupBy(key).agg(
        *[row.getField(c).alias(c) for c in non_keys]
    )
    return picked.select(*batch.columns)


def merge_batch(
    latest: DataFrame,
    batch: DataFrame,
    key: str = "uuid",
    etag_col: str = "etag",
) -> DataFrame:
    """Etag-gated upsert (X5 + W2): new version rows only where the content
    hash changed (reference _upsert_uuid_data_query, db.py:144-155).

    ``latest`` has (key, etag, version); ``batch`` has (key, etag, ...).
    Returns the rows of ``batch`` that must be appended, with assigned
    version numbers. The no-change case is filtered *before* any shuffle of
    record bodies — at 100 TB the common case (unchanged record) costs one
    broadcast/bucketed join probe, not a write.

    In-batch duplicate keys collapse FIRST (deterministically to the
    smallest etag — a DataFrame carries no file order, so the
    reference's first-occurrence-wins rule, U4/db_check's in-file dup
    flagging, maps to the one order every engine agrees on). Without
    the collapse, a key appearing twice with two etags would get the
    same version number twice, and the latest view would then pick
    between them nondeterministically.
    """
    batch = _dedupe_batch(batch, key, etag_col)
    cur = latest.select(
        F.col(key),
        F.col(etag_col).alias("__cur_etag"),
        F.col("version").alias("__cur_version"),
    )
    joined = batch.join(cur, on=key, how="left")
    changed = joined.filter(
        F.col("__cur_etag").isNull() | (F.col("__cur_etag") != F.col(etag_col))
    )
    return changed.withColumn(
        "version", F.coalesce(F.col("__cur_version") + 1, F.lit(0))
    ).drop("__cur_etag", "__cur_version")


def tombstones_for_deletes(
    latest: DataFrame,
    seen: DataFrame,
    key: str = "uuid",
    modified: Column | None = None,
) -> DataFrame:
    """U2 — delete detection: keys present in the store but absent from the
    new harvest batch get a tombstone version (db_check.py:441-454,
    tombstone etag db.py:33).

    ``type``/``parent``/``data`` are carried through from ``latest`` when
    present: the history layout partitions by ``type`` (store.py), so a
    tombstone row with a NULL type would be invisible to a type-pruned
    scan and the deleted entity would resurface as live."""
    gone = latest.join(seen.select(key).distinct(), on=key, how="left_anti")
    carry = [c for c in ("type", "parent", "data") if c in latest.columns]
    out = gone.select(
        key, *carry, (F.col("version") + 1).alias("version")
    ).withColumn("etag", F.lit(TOMBSTONE_ETAG))
    if modified is not None:
        out = out.withColumn("modified", modified)
    return out


def reconcile_skip_set(
    index_side: DataFrame, store_side: DataFrame, key: str = "uuid",
    etag_col: str = "etag",
) -> DataFrame:
    """U3 — resume reconciliation, the reference's rule exactly
    (type_yield_resume, index_from_postgres.py:186-222): the work set
    is STORE-driven — every store row EXCEPT those whose index etag
    already matches, and except tombstones that were never indexed
    (``pg_etag == tombstone_etag and es_etag is None``: a record
    deleted before it ever reached the index needs no delete-op).

    Index-side ORPHANS — docs in the index with no store row — are not
    emitted: the reference's resume loop iterates postgres rows only, so
    orphans are never visited (they linger in the index until the next
    full reindex) — use index_orphans() to surface them as the
    engine-side extension."""
    a = index_side.select(F.col(key), F.col(etag_col).alias("__idx_etag"))
    b = store_side.select(F.col(key), F.col(etag_col).alias("__pg_etag"))
    joined = b.join(a, on=key, how="left")
    skip = (
        # es_ids.get() of a never-indexed uuid is None; equality with a
        # real etag is then false, never null — coalesce mirrors that
        (F.col("__pg_etag") == F.coalesce(F.col("__idx_etag"), F.lit("\0")))
        | (
            (F.col("__pg_etag") == TOMBSTONE_ETAG)
            & F.col("__idx_etag").isNull()
        )
    )
    return joined.filter(~skip).select(key)


def index_orphans(
    index_side: DataFrame, store_side: DataFrame, key: str = "uuid"
) -> DataFrame:
    """Index docs with NO store row — the set the reference's resume
    NEVER visits (its loop is store-driven; orphans persist until a
    full reindex). Surfaced separately so an engine-side cleanup can
    anti-join them away without changing the resume work set."""
    return index_side.select(key).join(
        store_side.select(key), on=key, how="left_anti"
    )
