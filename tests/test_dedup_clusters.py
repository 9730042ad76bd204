"""Connected-components dedup clustering tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idb_backend_spark.operators import dedup


def test_duplicate_clusters_shapes(spark):
    # two triangles + a chain + an isolate
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (1, 3),          # triangle {1,2,3}
            (10, 11), (11, 12),              # chain {10,11,12}
            (20, 21), (21, 22), (20, 22),    # triangle {20,21,22}
        ],
        "id_a long, id_b long",
    )
    verts = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 20, 21, 22, 99]], "id long"
    )
    out = {
        r["id"]: r["cluster"]
        for r in dedup.duplicate_clusters(pairs, vertices=verts).collect()
    }
    assert out == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20, 22: 20,
        99: 99,  # isolate keeps itself
    }


def test_duplicate_clusters_long_chain_converges(spark):
    # a 30-node path needs ~diameter rounds of propagation... but min-label
    # moves one hop per round only in the worst direction; cap must hold
    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dedup.duplicate_clusters(pairs, max_iterations=n)
    assert out.filter(F.col("cluster") != 0).count() == 0


def test_duplicate_clusters_raises_when_unconverged(spark):
    # a chain longer than max_iterations must raise, not silently return
    # split clusters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(14)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iterations=3)


def test_dedup_keep_canonical(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in [1, 2, 3, 10, 99]], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_canonical(df, pairs, "doc_id").collect()
    )
    assert kept == [1, 10, 99]  # 2 and 3 fold into cluster 1


def test_ivf_partitioned_store_prunes(spark, tmp_path):
    """The IVF scale path: bucket-partitioned store + partition-pruned
    probe, recall checked against brute force."""
    import re

    from pyspark.sql import functions as F

    from idb_backend_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    assigned, centroids = ann.ivf_build(emb, nlist=8)
    path = str(tmp_path / "ivf")
    ann.ivf_write(assigned, path)

    store = spark.read.parquet(path)
    out = ann.ivf_topk(store, centroids, qvec, k=10, nprobe=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # nprobe = nlist: identical to brute force
    brute = ann.brute_force_topk(emb, qvec, k=10)
    assert [r["vec_id"] for r in out.collect()] == [
        r["vec_id"] for r in brute.collect()
    ]
    # nprobe < nlist: the query vector's own bucket must surface vec 0 first
    pruned = ann.ivf_topk(store, centroids, qvec, k=10, nprobe=3)
    # the probe's IN-list is a partition filter: unprobed buckets unread
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket#\d+ IN \(", pplan), pplan
    assert pruned.first()["vec_id"] == 0


def test_ivf_add_vectors_incremental(spark, tmp_path):
    """Steady-state IVF maintenance: a new batch assigns to the frozen
    codebook and appends to the bucket partitions; probes immediately
    see the additions, and existing vectors are untouched."""
    from pyspark.sql import functions as F

    from idb_backend_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 40)
    extra = emb.filter(F.col("vec_id") >= 40)
    assigned, centroids = ann.ivf_build(base, nlist=4)
    path = str(tmp_path / "ivf_inc")
    ann.ivf_write(assigned, path)
    n_base = spark.read.parquet(path).count()

    ann.ivf_add_vectors(extra, centroids, path)
    store = spark.read.parquet(path)
    assert store.count() == n_base + extra.count()

    # a query ON one of the added vectors finds itself with full probes
    added_id = extra.first()["vec_id"]
    qvec = extra.filter(F.col("vec_id") == added_id).first()["embedding"]
    out = ann.ivf_topk(store, centroids, qvec, k=5, nprobe=4)
    assert out.first()["vec_id"] == added_id
    # idempotence of the base set: original ids all still present
    assert store.filter(F.col("vec_id") < 40).count() == n_base


def test_wide_vertices_require_explicit_vertex_col(spark):
    """columns[0] guessing over a wide vertex frame would propagate
    labels over the wrong column and return garbage clusters."""
    import pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    wide = spark.createDataFrame(
        [("txt", 1), ("txt", 2), ("txt", 3)], "text string, doc_id long"
    )
    with pytest.raises(ValueError):
        dedup.duplicate_clusters(pairs, vertices=wide)
    out = {
        r["id"]: r["cluster"]
        for r in dedup.duplicate_clusters(
            pairs, vertices=wide, vertex_col="doc_id"
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 3}


def test_zero_iterations_raises_the_documented_error(spark):
    """max_iterations=0 must raise the convergence RuntimeError, not an
    UnboundLocalError from the failure message itself."""
    import pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iterations=0)
