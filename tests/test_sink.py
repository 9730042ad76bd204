"""S8/X7 sink tests: partitioned layout, file-size bounding, clustering."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from idb_backend_spark.export.sink import write_index_table


def test_write_index_table_layout(spark, tmp_path):
    df = spark.range(0, 10000).select(
        F.col("id").alias("uuid"),
        F.when(F.col("id") % 3 == 0, "records")
        .otherwise("mediarecords")
        .alias("type"),
        (F.col("id") % 100).alias("recordset"),
    )
    path = str(tmp_path / "idx")
    write_index_table(
        df,
        path,
        partition_by=["type"],
        cluster_by=["recordset"],
        max_records_per_file=1000,
    )
    # hive layout with both partitions
    parts = {p.split("=")[-1].split("/")[0]
             for p in glob.glob(f"{path}/type=*")}
    assert parts == {"records", "mediarecords"}
    # file sizes bounded: >= ceil(rows/1000) files per partition overall
    files = glob.glob(f"{path}/type=*/part-*.parquet")
    assert len(files) >= 10
    # roundtrip + partition pruning
    back = spark.read.parquet(path)
    assert back.count() == 10000
    plan = (
        back.filter(F.col("type") == "records")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(type" in plan


def test_parent_routing_pins(spark):
    """indexer.py:292-301 — first-link routing, the literal '0' orphan
    sentinel, delete-reuses-indexed-parent with NULL = silent skip."""
    from pyspark.sql import functions as F

    from idb_backend_spark.export.sink import parent_routing

    df = spark.createDataFrame(
        [
            ("m1", ["r1", "r2"], False, None),   # first link wins
            ("m2", [], False, None),             # orphan -> '0'
            ("m3", None, False, None),           # NULL links -> '0'
            ("m4", ["r9"], True, "rX"),          # delete ignores links
            ("m5", ["r9"], True, None),          # delete of unindexed: skip
        ],
        "id string, records array<string>, del boolean, indexed string",
    )
    got = {
        r["id"]: r["o"]
        for r in df.select(
            "id",
            parent_routing(
                F.col("records"), F.col("del"), F.col("indexed")
            ).alias("o"),
        ).collect()
    }
    assert got == {"m1": "r1", "m2": "0", "m3": "0", "m4": "rX", "m5": None}
