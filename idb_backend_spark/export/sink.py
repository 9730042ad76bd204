"""S8/X7 — the analytical-table sink: partitioned, size-controlled,
clustered writes (the role the ES bulk indexer plays in the reference,
idb/indexing/indexer.py:273-330 with its 500-doc/10 MB chunking and
refresh toggling).

On Spark the equivalent knobs are output layout, not request batching:
* ``partitionBy(type)`` (X2) so every downstream query prunes,
* ``maxRecordsPerFile`` bounding file sizes (the 10 MB chunk analog),
* optional sort-within-partitions clustering so range predicates on the
  cluster key skip row groups via parquet min/max stats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_index_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Write the typed analytical table with a scan-friendly layout.

    ``cluster_by`` sorts within partitions so parquet row-group min/max
    statistics actually skip data for range/equality predicates on those
    columns (unsorted data has full-range stats everywhere — useless).
    """
    out = df
    if cluster_by:
        shuffle_keys = (partition_by or []) + cluster_by
        # RANGE-partition on (partition, cluster) keys: each task then
        # holds one contiguous key range — almost always a single hive
        # partition value — so the write emits O(partitions + tasks)
        # files with TIGHT per-file cluster-key min/max (file-level AND
        # row-group skipping). A hash repartition on the same keys keeps
        # the cluster wide but scatters every hive partition across all
        # tasks: ~tasks-per-partition small files, each spanning the
        # full cluster-key range. The trailing hash tie-breaker splits
        # runs of IDENTICAL key tuples across tasks (a range partitioner
        # otherwise sends all ties to one task — low-cardinality cluster
        # keys would collapse parallelism to the distinct-tuple count)
        # without loosening the per-file key min/max.
        # NB: repartitionByRange adds a sampling pass that evaluates the
        # input plan once before the write — persist() an expensive
        # upstream pipeline before calling this.
        tie = F.xxhash64(*[F.col(c) for c in df.columns])
        out = out.repartitionByRange(
            *[F.col(c) for c in shuffle_keys], tie
        )
        out = out.sortWithinPartitions(*shuffle_keys)
    writer = out.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def parent_routing(
    records: Column, delete: Column, indexed_parent: Column
) -> Column:
    """The mediarecords parent-routing rule of the bulk formater
    (indexer.py:292-301; single-doc twin :238-247): the routing key that
    co-locates a media doc with its parent record.

    Pins: a mediarecord routes by its FIRST ``records`` link; one with
    no links routes to the literal STRING-rendered sentinel ``0`` (the
    reference passes the int 0 — every orphan lands in one routing
    bucket, a deliberate hot-spot the engine inherits as a value, though
    partition-wise Spark's hash of one key is one task, so orphan-heavy
    batches should salt); a DELETE op ignores the row's links and reuses
    the parent the INDEX already has — and when the index holds nothing
    (``indexed_parent`` NULL) the delete is silently SKIPPED
    (:294-297 ``continue``), which this models as NULL routing: callers
    filter ``delete AND routing IS NULL`` out of the op stream.

    On Spark the routing key is the repartition column for the index
    write, so parent/child co-location (the ES has_parent/has_child
    analog J5 exploits) survives the sink."""
    return (
        F.when(delete, indexed_parent)
        .when(F.size(F.coalesce(records, F.array())) > 0, records[0])
        .otherwise(F.lit("0"))
    )
