"""Approximate-nearest-neighbor search over embedding columns.

Baseline: brute-force cosine top-k — a single scan with a native
zip_with/aggregate dot product (no UDF), then a tiny top-k sort. This is
the exact oracle and is already shuffle-free except the final top-k
(Spark's `orderBy().limit(k)` compiles to TakeOrderedAndProject — each
partition keeps k rows, the driver merges; no full sort).

Scale path: IVF — partition vectors into nlist buckets by nearest
centroid (KMeans-lite with deterministic seeded init), probe the nprobe
nearest buckets at query time. Bucket assignment is a one-off batch job;
queries scan ~nprobe/nlist of the data with partition pruning when the
table is written partitioned by bucket id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idb_backend_spark.functions.similarity import cosine_similarity


def _vec_lit(vec) -> "F.Column":
    return F.array(*[F.lit(float(x)) for x in vec])


def brute_force_topk(
    df: DataFrame,
    query_vec,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    sim = cosine_similarity(F.col(vec_col), _vec_lit(query_vec))
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _assign(df: DataFrame, centroids: list, vec_col: str) -> DataFrame:
    """Nearest-centroid argmax as ONE array_max over (sim, -idx, idx)
    structs — a LINEAR expression tree. The previous when-chain fold
    embedded the running best twice per step (condition + otherwise),
    an expression tree exponential in nlist: measured on Spark 4.1.2,
    nlist=12 took 32 s to ANALYZE and the default nlist=16 OOMed the
    driver before reading any data (the same argmax hazard class
    functions/text._lang_argmax documents). Ties break toward
    the LOWEST bucket index via the -idx field, matching
    _probe_buckets — divergent tie-breaks would send queries with
    duplicate centroids to the empty twin bucket."""
    if not centroids:
        # empty codebook (empty/fully-filtered corpus): one bucket
        return df.withColumn("bucket", F.lit(0))
    entries = [
        F.struct(
            cosine_similarity(F.col(vec_col), _vec_lit(c)).alias("s"),
            F.lit(-i).alias("pri"),
            F.lit(i).alias("b"),
        )
        for i, c in enumerate(centroids)
    ]
    return df.withColumn("bucket", F.array_max(F.array(*entries))["b"])


def ivf_build(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    sample_seed: int = 42,
    iterations: int = 2,
) -> tuple[DataFrame, list]:
    """Assign each vector to its nearest of nlist centroids.

    Centroids start as a deterministic seeded sample, then ``iterations``
    Lloyd rounds refine them: each round is one distributed mean per
    (bucket, dimension) — a single bounded groupBy over nlist·dim cells —
    followed by reassignment. Two rounds markedly tighten buckets (higher
    probe recall at the same nprobe); full KMeans can refine offline.
    Returns (assigned_df with `bucket` column, centroids list).

    The sample uses a global orderBy(hash).limit — fine for nlist ≤ ~256;
    switch to TABLESAMPLE + local top when sampling wider codebooks.
    """
    sample = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("string"), F.lit(sample_seed)))
        .limit(nlist)
        .collect()
    )
    centroids = [list(r[vec_col]) for r in sample]
    # a corpus smaller than nlist yields fewer seed centroids; iterate
    # over what EXISTS — indexing range(nlist) into a short list crashed
    # on any small (or filtered) input instead of degrading gracefully
    nlist = len(centroids)
    if not centroids:
        # empty/fully-filtered corpus: one empty bucket, no codebook —
        # the degradation the docstring promises, not a TypeError
        return _assign(df, [], vec_col), []
    for _ in range(max(0, iterations)):
        assigned = _assign(df, centroids, vec_col)
        means = (
            assigned.select(
                "bucket", F.posexplode(vec_col).alias("pos", "x")
            )
            .groupBy("bucket", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_bucket: dict[int, dict[int, float]] = {}
        for r in means:
            by_bucket.setdefault(r["bucket"], {})[r["pos"]] = r["m"]
        centroids = [
            [by_bucket[b][p] for p in sorted(by_bucket[b])]
            if b in by_bucket
            else centroids[b]  # empty bucket keeps its seed centroid
            for b in range(nlist)
        ]
    return _assign(df, centroids, vec_col), centroids


def _probe_buckets(centroids: list, query_vec, nprobe: int) -> list[int]:
    """The nprobe bucket ids whose centroids are nearest the query —
    the ONE probe-selection kernel ivf_topk and pq.ivfpq_batch_topk
    share (a divergent copy here would silently split their semantics)."""
    import numpy as np

    if not centroids:
        return [0]  # empty codebook: everything lives in bucket 0
    q = np.asarray(query_vec, dtype=float)
    qn = q / (np.linalg.norm(q) or 1.0)
    sims = []
    for i, c in enumerate(centroids):
        cv = np.asarray(c, dtype=float)
        n = np.linalg.norm(cv)
        sims.append((float(np.dot(qn, cv / n)) if n else -1.0, i))
    # ties toward the LOWEST index — the same direction _assign breaks
    # them, so duplicate centroids probe the bucket that actually holds
    # the vectors instead of its empty twin
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [i for _, i in sims[:nprobe]]


def ivf_topk(
    assigned: DataFrame,
    centroids: list,
    query_vec,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe the nprobe buckets whose centroids are nearest the query.
    Over a bucket-partitioned store (``spark.read.parquet`` of an
    ivf_write path) the bucket IN-list is a partition filter, so only
    nprobe/nlist of the files are read."""
    probe = _probe_buckets(centroids, query_vec, nprobe)
    sim = cosine_similarity(F.col(vec_col), _vec_lit(query_vec))
    return (
        assigned.filter(F.col("bucket").isin(probe))
        .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def ivf_write(
    assigned: DataFrame, path: str, max_records_per_file: int = 1_000_000
) -> None:
    """Persist the IVF assignment bucket-partitioned: queries probing
    nprobe buckets then scan only those hive partitions — the pruning is
    visible as PartitionFilters in the plan and reads nprobe/nlist of the
    data at any scale."""
    (
        assigned.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("bucket")
        .parquet(path)
    )


def ivf_add_vectors(
    new_vectors: DataFrame,
    centroids: list,
    path: str,
    vec_col: str = "embedding",
    max_records_per_file: int = 1_000_000,
) -> None:
    """Incremental IVF maintenance: assign a new vector batch to its
    nearest FROZEN centroids and append to the bucket-partitioned store.

    The codebook is NOT retrained — the steady-state contract every IVF
    system uses (FAISS `add` after `train`): ingest cost is O(batch),
    probes keep pruning by partition, and recall drifts only as far as
    the data distribution does (retrain + `ivf_write` rebuild when it
    matters). Dynamic partition overwrite is NOT used — plain append
    only ever adds files to the touched bucket directories, so a crashed
    add leaves at most missing vectors, never lost ones.
    """
    assigned = _assign(new_vectors, centroids, vec_col)
    (
        assigned.write.mode("append")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("bucket")
        .parquet(path)
    )


def batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for MANY query vectors in one job — the shape a
    retrieval/eval pipeline actually runs (one query at a time re-scans
    the corpus per query; batching amortizes the scan).

    Plan: broadcast the (small) query set against the corpus scan — the
    corpus is read ONCE and never shuffled by the join — then a per-query
    window top-k. The only shuffle keys on query_id, carrying k·|queries|
    candidate rows after the window's partial rank pruning, not the
    |corpus|×|queries| cross product. At 100 TB this is the batched
    retrieval pattern: scan cost is paid once for the whole query set.
    pq.recall_audit ranks its exact panel top-k here.

    Output: (query_id, vec_id, cosine, rank), rank 1..k per query,
    deterministic tie-break on vec_id.
    """
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(query_vec_col).alias("__qv"),
        )
    )
    scored = corpus.join(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        F.round(
            cosine_similarity(F.col(vec_col), F.col("__qv")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
