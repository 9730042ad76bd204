"""A portal search's fixed cost: the Spark jobs each step runs, and the
order the bounded counts keep while avoiding a global sort.

A search is `compile_shim` (query tokens), `hit_counts` by recordset and
the first `keyset_page`; a download adds `recordset_counts`. Each pin
below counts the jobs of one step through `statusTracker`, and the order
pins compare against the `orderBy(desc("count"), key)` form row for row.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from idb_backend_spark.export.writers import recordset_counts
from idb_backend_spark.functions.text import query_tokens
from idb_backend_spark.operators.aggregates import hit_counts, keyset_page

#: recordset -> rows: count ties (a/b/NULL at 3, c/e at 1) and a NULL key
_SIZES = {None: 3, "b": 3, "a": 3, "c": 1, "d": 5, "e": 1, "f": 2, "é": 2,
          "Z": 2}


@pytest.fixture(scope="module")
def records(spark, tmp_path_factory):
    rows = [
        (f"u{i:04d}", rs, i % 7)
        for i, (rs, n) in enumerate(
            (rs, n) for rs, n in _SIZES.items() for _ in range(n)
        )
    ]
    path = str(tmp_path_factory.mktemp("portal") / "records")
    spark.createDataFrame(
        rows, "uuid string, recordset string, v int"
    ).repartition(8).write.parquet(path)
    return spark.read.parquet(path)


def _ordered(df, key):
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.col(key))
        .collect()
    )


def test_hit_counts_keeps_orderby_order(records):
    spread = records.repartition(8)
    for pred in (None, F.col("v") > 1):
        base = spread if pred is None else spread.filter(pred)
        assert hit_counts(spread, pred, "recordset").collect() == _ordered(
            base, "recordset"
        )


def test_recordset_counts_keeps_orderby_order(records):
    spread = records.repartition(8)
    expect = [(str(r["recordset"]), r["count"])
              for r in _ordered(spread, "recordset")]
    assert expect[:2] == [("d", 5), ("None", 3)]
    assert recordset_counts(spread, "recordset") == expect


def _jobs(spark, fn):
    sc = spark.sparkContext
    tag = f"fixed_cost_{uuid.uuid4().hex}"
    sc.setJobGroup(tag, "search fixed-cost pin")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_search_job_counts(spark, records):
    pred = F.col("v") > 1
    assert _jobs(spark, lambda: hit_counts(records, pred, "recordset")
                 .collect()) <= 2
    assert _jobs(spark, lambda: keyset_page(records.filter(pred), "uuid")
                 .collect()) == 1
    assert _jobs(spark, lambda: recordset_counts(records, "recordset")) <= 2
    never_seen = f"Never seen, {uuid.uuid4().hex} İstanbul"
    assert _jobs(spark, lambda: query_tokens(never_seen)) == 0
