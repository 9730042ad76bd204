"""Relation/link operators: identifier aggregation, sibling symmetrization,
record↔media cross-filtering (reference db.py:50-78, download.py:359-430).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def aggregate_identifiers(
    entities: DataFrame,
    identifiers: DataFrame,
    key: str = "uuid",
    id_key: str = "uuids_id",
    id_val: str = "identifier",
) -> DataFrame:
    """J2 — attach sorted identifier arrays per entity (db.py:50-56).

    Sorted for determinism (the reference's array_agg order is whatever
    Postgres yields; we pin it)."""
    agg = identifiers.groupBy(F.col(id_key).alias(key)).agg(
        F.sort_array(F.collect_set(id_val)).alias("recordids")
    )
    return entities.join(agg, on=key, how="left")


def symmetrize_edges(edges: DataFrame, r1: str = "r1", r2: str = "r2") -> DataFrame:
    """U1/J3 — undirected edge list -> both directions (db.py:62-66).

    Deleted-filter asymmetry in the reference: the
    per-item siblings map filters ``sibs.deleted = false`` (db.py:69),
    but the standalone ``idigbio_relations`` VIEW joins uuids with NO
    deleted filter (db.py:250-264) — a deleted sibling appears in the
    relations view yet vanishes from the item's siblings map. Callers
    here choose the same way: pass a pre-filtered ``uuids`` frame to
    sibling_map (item semantics) or an unfiltered one (view
    semantics)."""
    fwd = edges.select(F.col(r1).alias("src"), F.col(r2).alias("dst"))
    rev = edges.select(F.col(r2).alias("src"), F.col(r1).alias("dst"))
    return fwd.union(rev)


def sibling_map(
    edges: DataFrame,
    uuids: DataFrame,
    r1: str = "r1",
    r2: str = "r2",
    key: str = "uuid",
    type_col: str = "type",
) -> DataFrame:
    """J3 — per-entity map<type, array<uuid>> of its (non-deleted) siblings
    (db.py:58-73): symmetrize, join the registry for the *other* side's
    type, group, and build the rel->uuids map."""
    sym = symmetrize_edges(edges, r1, r2)
    typed = sym.join(
        uuids.select(F.col(key).alias("dst"), F.col(type_col)),
        on="dst",
        how="inner",
    )
    per_type = typed.groupBy("src", type_col).agg(
        F.sort_array(F.collect_set("dst")).alias("sibs")
    )
    return per_type.groupBy(F.col("src").alias(key)).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col(type_col), F.col("sibs"))))
        ).alias("siblings")
    )


def attach_harvest_file(
    recordsets: DataFrame,
    objects: DataFrame,
    etag_col: str = "file_harvest_etag",
    obj_etag: str = "etag",
) -> DataFrame:
    """J7 — recordset -> harvested file object (db.py:878-884:
    ``LEFT JOIN objects ON recordsets.file_harvest_etag = objects.etag``).

    Recordsets are a small dimension (thousands) while the object store is
    large, so the scale-correct plan projects/dedupes the object side to
    (etag, payload) first — the join then shuffles only the slim object
    projection, and AQE broadcasts the recordset side when it fits."""
    # prefix the object payload columns: the reference's recordsets and
    # objects tables share payload names (created/modified), and an
    # unprefixed left join would emit duplicate columns that throw
    # AMBIGUOUS_REFERENCE at the first downstream select
    obj_cols = [c for c in objects.columns if c != obj_etag]

    def _target(c: str) -> str:
        # prefix until UNIQUE: 'object_created' may itself already exist
        # beside a colliding 'created' in the object table
        taken = set(recordsets.columns) | (set(obj_cols) - {c})
        t = c
        while t in taken:
            t = f"object_{t}"
        return t

    slim_cols = [_target(c) for c in obj_cols]
    renamed = [F.col(c).alias(t) for c, t in zip(obj_cols, slim_cols)]
    # deterministic dedupe: min_by the full payload struct per etag — a
    # bare dropDuplicates picks an arbitrary row when the object store
    # holds duplicate etags with differing payloads, so reruns could
    # return different joined values
    projected = objects.select(F.col(obj_etag).alias(etag_col), *renamed)
    payload = F.struct(*[F.col(c) for c in slim_cols])
    slim = (
        projected.groupBy(etag_col)
        .agg(F.min_by(payload, payload).alias("__obj"))
        .select(
            etag_col, *[F.col(f"__obj.{c}").alias(c) for c in slim_cols]
        )
    )
    return recordsets.join(slim, on=etag_col, how="left")


def annotation_counts(
    entities: DataFrame,
    annotations: DataFrame,
    key: str = "uuid",
    ann_key: str = "uuids_id",
    pred: Column | None = None,
) -> DataFrame:
    """J11 — per-entity annotation count (index_from_postgres.py:122-126:
    LATERAL ``count(*)`` of approved annotations per uuid).

    groupBy+count on the (filtered) annotation side first — one partial-agg
    shuffle over (key, count) pairs only — then a left join so entities with
    zero annotations keep a 0 instead of dropping out."""
    anns = annotations.filter(pred) if pred is not None else annotations
    counts = anns.groupBy(F.col(ann_key).alias(key)).agg(
        F.count(F.lit(1)).alias("annotation_count")
    )
    joined = entities.join(counts, on=key, how="left")
    return joined.withColumn(
        "annotation_count", F.coalesce("annotation_count", F.lit(0))
    )


def cross_filter(
    records: DataFrame,
    media: DataFrame,
    record_pred: Column | None,
    media_pred: Column | None,
    link: tuple[str, str] = ("uuid", "record_uuid"),
) -> tuple[DataFrame, DataFrame]:
    """J5 — record↔media cross-filtering (ES has_child/has_parent,
    download.py:359-430) as semi-joins.

    Returns (records', media'): records satisfying record_pred AND having at
    least one media row satisfying media_pred, and symmetrically for media.
    Semi-joins keep only the key column on the build side — no payload
    shuffle — and AQE turns the filtered side into a broadcast when small.
    """
    rkey, mkey = link
    r = records.filter(record_pred) if record_pred is not None else records
    m = media.filter(media_pred) if media_pred is not None else media
    # no .distinct() on the build sides: left_semi is duplicate-
    # insensitive, so a pre-distinct only adds a full key exchange (the
    # same redundant-exchange class sibling_symmetrize removed)
    r_out = r
    if media_pred is not None:
        r_out = r.join(
            m.select(F.col(mkey).alias(rkey)), on=rkey, how="left_semi"
        )
    m_out = m
    if record_pred is not None:
        m_out = m.join(
            r.select(F.col(rkey).alias(mkey)), on=mkey, how="left_semi"
        )
    return r_out, m_out
