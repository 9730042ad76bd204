"""Product-quantization ANN with ADC scoring — the memory-bound tier.

The similarity-search ladder in this repo: brute force (exact oracle,
operators/ann.py), IVF (reads nprobe/nlist of the data), SQ8
(operators/quantize.py — 4x fewer scan bytes, full scan), PQ — the
tier real 100 TB deployments run, because it changes the SCAN UNIT:
each D-dim float vector (4·D bytes) is stored as ``m`` small codes
(m bytes at k <= 256), so the candidate scan reads ~32x fewer bytes
than float vectors and never touches a float array.

PQ runs behind IVF's coarse quantizer (FAISS's IVFPQ shape, ONE shared
codebook, so one ADC LUT per query serves every probed bucket): PQ
shrinks the BYTES PER ROW the candidate scan reads, IVF shrinks the
ROWS it touches (nprobe/nlist of the corpus, a partition-pruned scan
when the codes land bucket-partitioned via ann.ivf_write). There is one
retrieval path: flat PQ is IVF-PQ probed at nprobe = nlist (the bucket
filter keeps every row), and a single query is a panel of one.

  * ``pq_train`` — per-subspace Lloyd codebooks, ALL subspaces in one
    distributed pass per iteration: the (sub, cid, pos) means are one
    bounded groupBy (m·k·d_sub cells — KBs at any corpus size) and the
    assignment is a native expression, so training cost is
    iterations × one corpus scan, exactly like ann.ivf_build.
  * ``pq_encode`` — codes = per-subspace argmin ||x_s − c||², computed
    as argmax(2·x_s·c − ||c||²) against a BROADCAST centroid dimension
    (m·k rows) with one per-subspace max lane aggregation — the
    Molodensky-constants / minhash-lane pattern. The all-literal
    expression alternative (m·k structs × d_sub multiply-adds inlined
    into one projection) is a codegen cliff: at the default 8×16×8
    geometry it overflows janino's 64 KB method limit and the whole
    encode runs interpreted — measured 25 s for 500 vectors vs 0.2 s
    for the join formulation. Map-side partial aggregation folds the
    m·k joined rows back to m lanes per vector before the single
    id-keyed exchange.
  * ``ivfpq_build`` — ann.ivf_build's coarse quantizer, one pq_train
    codebook and one encode; the codes keep the bucket column.
  * ``ivfpq_batch_topk`` — ADC (asymmetric distance computation) for a
    whole query panel in ONE pass over the codes: each query's m×k
    table of query-subvector · centroid partials (driver-side — m·k
    floats) rides a (query, probed bucket) dimension joined into the
    codes scan, and each row scores as sum_s LUT[s][code_s]: m array
    lookups over the m-byte codes.
  * ``ivfpq_batch_topk_rerank`` — the production two-stage: ADC
    shortlist of ``shortlist`` ids per query (codes-only scan), then
    exact cosine re-rank of just those rows (reads |panel|·shortlist
    float vectors, not the corpus).
  * ``recall_audit`` — certifies recall against the exact top-k the
    way the sketch tiers are graded (operators/sketches.py): one build,
    one exact panel ranking, one batched retrieval per probe width; the
    output carries the exact ids and a within-bound boolean contract.

Cosine ranking via PQ: vectors are L2-NORMALIZED before training and
encoding (native expression), so inner product == cosine and the ADC
inner-product sum approximates the cosine against the reconstructed
vector. Queries normalize driver-side.

Determinism: codebooks derive from a hash-ordered seed sample and
exact mean updates (shuffle-order float sums make the last-ulp of a
mean nondeterministic in principle; ties in argmin break toward the
LOWEST code id, so code assignment is stable everywhere except exact
distance ties between DISTINCT centroids — not observed at graded
scale). ADC scores are rounded to the repo's 6-dp float contract.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from idb_backend_spark.functions.similarity import cosine_similarity
from idb_backend_spark.operators import ann
from idb_backend_spark.session import _gate_broadcast


def _l2_normalize(vec: Column) -> Column:
    """x / ||x|| as a native expression; the zero vector stays zero
    (guarded divide — NULL-safe like functions/similarity)."""
    nrm = F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return F.transform(
        vec,
        lambda x: F.when(nrm > 0, x.cast("double") / nrm).otherwise(
            F.lit(0.0)
        ),
    )


def _centroid_dim(spark, codebook: list[list[list[float]]]):
    """The m·k-row centroid dimension (sub, cid, cv, cc) — broadcast
    into every assignment join; ||c||² precomputed once here."""
    rows = [
        (s, cid, [float(x) for x in c], float(sum(x * x for x in c)))
        for s, cb_s in enumerate(codebook)
        for cid, c in enumerate(cb_s)
    ]
    return spark.createDataFrame(
        rows, "sub int, cid int, cv array<double>, cc double"
    )


def _with_codes(
    norm: DataFrame, codebook: list[list[list[float]]], keep: list[str]
) -> DataFrame:
    """(*keep, codes array<int>) from a frame with normalized vectors
    in column ``v``.

    Broadcast the centroid dimension (m·k rows), score every
    (vector, centroid) pair with fit = 2·x_s·c − ||c||² (d_sub plain
    multiply-adds — element_at with the sub column as index; no HOF,
    no literal-inlined codebook), then fold back to one row per vector
    with m per-subspace max lanes in a SINGLE aggregation: max of
    struct(fit, -cid, cid) is the argmax with ties toward the lowest
    code id (ann._assign's tie direction). Partial aggregation
    combines the m·k joined rows map-side, so the one exchange carries
    m lanes per vector."""
    d_sub = len(codebook[0][0])
    m = len(codebook)
    cent = _centroid_dim(norm.sparkSession, codebook)
    fit = -F.col("cc")
    for j in range(d_sub):
        fit = fit + F.lit(2.0) * F.element_at(
            F.col("v"), F.col("sub") * d_sub + (j + 1)
        ) * F.element_at(F.col("cv"), j + 1)
    scored = norm.join(F.broadcast(cent)).select(
        *keep,
        "v",
        "sub",
        F.struct(
            fit.alias("fit"),
            (-F.col("cid")).alias("pri"),
            F.col("cid").alias("b"),
        ).alias("e"),
    )
    lanes = [
        F.max(F.when(F.col("sub") == s, F.col("e"))).alias(f"__l{s}")
        for s in range(m)
    ]
    agged = scored.groupBy(*keep).agg(F.first("v").alias("v"), *lanes)
    return agged.select(
        *keep,
        "v",
        F.array(*[F.col(f"__l{s}")["b"] for s in range(m)]).alias("codes"),
    )


def _check_geometry(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(
            f"embedding dim {dim} not divisible by m={m} subspaces"
        )
    return dim // m


def pq_train(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    iterations: int = 3,
    sample_seed: int = 42,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks; returns codebook[m][k][d_sub].

    Seeds: k hash-ordered sample vectors, sliced per subspace (the
    ivf_build init, reused across all m subspaces — each subspace then
    refines independently). The normalized corpus is localCheckpointed
    ONCE (every Lloyd round and the seed sample read it). Each round
    is one assignment join + one bounded groupBy over (sub, cid, pos)
    — m·k·d_sub cells, KBs collected whatever the corpus size. A
    corpus smaller than k degrades to fewer codes; an empty corpus
    raises (there is nothing to quantize).
    """
    d_sub = _check_geometry(dim, m)
    norm = _normalized(df, vec_col, [id_col])
    return _train_codebook(norm, id_col, d_sub, m, k, iterations, sample_seed)


def _normalized(df: DataFrame, vec_col: str, keep: list[str]) -> DataFrame:
    """(*keep, v) with ``v`` the L2-normalized vector, localCheckpointed:
    the seed sample, every Lloyd round and the encode read it."""
    return df.select(
        *keep, _l2_normalize(F.col(vec_col)).alias("v")
    ).localCheckpoint(eager=True)


def _train_codebook(
    norm: DataFrame,
    id_col: str,
    d_sub: int,
    m: int,
    k: int,
    iterations: int,
    sample_seed: int,
) -> list[list[list[float]]]:
    """pq_train's seeding and Lloyd rounds over a ``_normalized`` frame."""
    sample = (
        norm.orderBy(F.xxhash64(F.col("v").cast("string"), F.lit(sample_seed)))
        .limit(k)
        .collect()
    )
    if not sample:
        raise ValueError("pq_train on an empty corpus")
    seeds = [list(r["v"]) for r in sample]
    codebook = [
        [seed[s * d_sub : (s + 1) * d_sub] for seed in seeds]
        for s in range(m)
    ]
    for _ in range(max(0, iterations)):
        coded = _with_codes(norm, codebook, [id_col])
        means = (
            coded.select(F.posexplode("codes").alias("sub", "cid"), "v")
            .select(
                "sub",
                "cid",
                F.posexplode(
                    F.slice(F.col("v"), F.col("sub") * d_sub + 1, d_sub)
                ).alias("pos", "x"),
            )
            .groupBy("sub", "cid", "pos")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["sub"], r["cid"]), {})[r["pos"]] = r["mu"]
        codebook = [
            [
                [got[(s, c)][p] for p in range(d_sub)]
                if (s, c) in got
                else codebook[s][c]  # empty cell keeps its seed
                for c in range(len(codebook[s]))
            ]
            for s in range(m)
        ]
    return codebook


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep, codes array<int>) — the stored form: m small ints per
    vector. One assignment join + one id-keyed aggregation; at scale
    this frame is what the candidate scan reads (write it columnar and
    the float vectors are never touched until re-rank)."""
    cols = [id_col, *keep]
    norm = df.select(*cols, _l2_normalize(F.col(vec_col)).alias("v"))
    return _with_codes(norm, codebook, cols).drop("v")


def _adc_lut(codebook: list[list[list[float]]], query_vec) -> list[float]:
    """The m×k table of query-subvector · centroid partials, flattened
    row-major (entry s·k + c). Driver-side: it is m·k floats; the query
    is normalized here so LUT sums are cosine approximations."""
    d_sub = len(codebook[0][0])
    q = [float(x) for x in query_vec]
    n = math.sqrt(sum(x * x for x in q)) or 1.0
    q = [x / n for x in q]
    return [
        sum(q[s * d_sub + j] * float(c[j]) for j in range(d_sub))
        for s, cb_s in enumerate(codebook)
        for c in cb_s
    ]


def adc_score(codes: Column, lut: Column, m: int, n_codes: int) -> Column:
    """sum_s lut[s·n_codes + code_s] over a flat LUT column — m
    element_at lookups unrolled into one native sum. No higher-order
    function: an aggregate(sequence(...)) fold is a CodegenFallback
    expression and would take the scoring Project out of whole-stage
    codegen for the same values."""
    out = None
    for s in range(m):
        term = F.element_at(lut, F.element_at(codes, s + 1) + (s * n_codes + 1))
        out = term if out is None else out + term
    return out


def ivfpq_build(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 8,
    m: int = 8,
    n_codes: int = 16,
    ivf_iterations: int = 2,
    pq_iterations: int = 3,
) -> tuple[DataFrame, list, list[list[list[float]]]]:
    """(codes_df(id, bucket, codes), centroids, codebook).

    The coarse quantizer is ann.ivf_build's Lloyd loop; the codebook is
    pq_train's — both trained on the same corpus, independently, so the
    codebook does not depend on nlist. The codes frame keeps the bucket
    column so ann.ivf_write can land it hive-partitioned (queries then
    prune partitions, not just filter).

    Residual coding (FAISS's default: encode v̂ − ĉ_bucket) is not
    offered: measured on the shipped synthetic embeddings (uniformly
    spread — IVF's documented worst case, see ivf_ann_topk) it did not
    beat the shared codebook (mean |adc − cosine| 0.083 vs 0.071 at
    sf0.01), because coarse centroids explain almost nothing on a
    cluster-free corpus.
    """
    d_sub = _check_geometry(dim, m)
    assigned, centroids = ann.ivf_build(
        df, vec_col, id_col, nlist=nlist, iterations=ivf_iterations
    )
    # one normalized, checkpointed (id, bucket, v) frame feeds both the
    # codebook training and the encode: the corpus is normalized and
    # assigned to its bucket once
    keep = [id_col, "bucket"]
    norm = _normalized(assigned, vec_col, keep)
    codebook = _train_codebook(
        norm, id_col, d_sub, m, n_codes, pq_iterations, sample_seed=42
    )
    codes = _with_codes(norm, codebook, keep).drop("v")
    return codes, centroids, codebook


def ivfpq_batch_topk(
    codes_df: DataFrame,
    centroids: list,
    codebook: list[list[list[float]]],
    queries: list[tuple],
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ADC top-k for a panel of queries in ONE pass over the codes
    (ann.batch_topk's amortization argument: per-query jobs re-scan the
    corpus per query; here the codes are read once for the panel).

    ``queries`` is a driver-side [(query_id, vector), ...] panel. Each
    query's probe set is ann._probe_buckets (the one kernel every IVF
    variant shares) and its LUT is m·k floats, so even thousands of
    queries are KBs. The codes scan is filtered to the union of the
    panel's probe sets BEFORE the join — off an ann.ivf_write store
    that filter is a partition filter, so unprobed buckets are never
    read. The (query_id, bucket, lut) dimension then joins on bucket —
    broadcast when it fits (size-gated by session._gate_broadcast:
    estimate rows × lut bytes, fall back to a plain join) —
    adc_score scores each (row, query) pair and a per-query window keeps
    the top k. nprobe >= nlist probes every bucket: flat PQ.

    Output: (query_id, vec_id, adc, rank), rank 1..k per query,
    deterministic tie-break on vec_id.
    """
    spark = codes_df.sparkSession
    m, n_codes = len(codebook), len(codebook[0])
    rows = []
    for qid, qv in queries:
        lut = _adc_lut(codebook, qv)
        for b in ann._probe_buckets(centroids, qv, nprobe):
            rows.append((int(qid), int(b), lut))
    qdim = spark.createDataFrame(
        rows, f"{query_id_col} long, bucket int, __lut array<double>"
    )
    qdim = _gate_broadcast(qdim, len(rows) * (m * n_codes * 8 + 64), spark)
    probed = sorted({r[1] for r in rows})
    score = adc_score(F.col("codes"), F.col("__lut"), m, n_codes)
    scored = (
        codes_df.filter(F.col("bucket").isin(probed))
        .join(qdim, "bucket")
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(score, 6).alias("adc"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("adc"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc", F.col("rank").cast("bigint").alias("rank"))
    )


def ivfpq_batch_topk_rerank(
    df: DataFrame,
    codes_df: DataFrame,
    centroids: list,
    codebook: list[list[list[float]]],
    queries: list[tuple],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 10,
    shortlist: int = 100,
    nprobe: int = 4,
) -> DataFrame:
    """Two-stage batch retrieval: one codes pass shortlists every query,
    one join against the float vectors re-ranks only the shortlisted
    (query, candidate) pairs exactly — |queries|·shortlist rows read
    from the vector table, the corpus scanned zero extra times.

    Output: (query_id, vec_id, cosine, rank), rank 1..k per query.
    """
    spark = df.sparkSession
    short = ivfpq_batch_topk(
        codes_df, centroids, codebook, queries,
        id_col, query_id_col, shortlist, nprobe,
    ).select(query_id_col, id_col)
    qv_rows = [
        (int(qid), [float(x) for x in qv]) for qid, qv in queries
    ]
    # array<double>, NOT array<float>: the exact side (ann.batch_topk in
    # recall_audit, ann.brute_force_topk's literals) computes cosine
    # from double operands, and a float32-narrowed external query
    # vector can flip 6-dp near-ties between the two
    qvec = F.broadcast(
        spark.createDataFrame(
            qv_rows, f"{query_id_col} long, __qv array<double>"
        )
    )
    sim = cosine_similarity(F.col(vec_col), F.col("__qv"))
    scored = (
        short.join(df.select(id_col, vec_col), id_col)
        .join(qvec, query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(sim, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "cosine",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def recall_audit(
    df: DataFrame,
    queries: list[tuple],
    dim: int,
    methods: dict[str, tuple[int, float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    shortlist: int = 100,
    nlist: int = 8,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """(method, query_id, exact_ids, recall, within_bound) per method
    and audit query — the sketch-audit pattern (operators/sketches.py):
    certify the two-stage retrieval's recall@k against the exact top-k.

    ``queries`` is [(query_id, vector), ...] — a SMALL audit panel.
    ``methods`` maps a method name to (nprobe, min_recall): flat PQ is
    nprobe = nlist, IVF-PQ any narrower probe. Everything the methods
    share runs once: one ivfpq_build (so one codebook), one exact
    ranking of the whole panel (ann.batch_topk), then one batched
    retrieval per method. The exact ids (sorted) ride along so a gate
    slot hashes real content, not just booleans; recall is rounded to
    6 dp. Shortlist sizing: recall rises with shortlist/corpus —
    measured minima for flat PQ over a 10-query panel at 500 vectors:
    0.7 / 0.8 / 0.9 at shortlist 100 / 150 / 200; the shortlist only
    changes how many FLOAT vectors the re-rank reads, never the
    codes scan."""
    spark = df.sparkSession
    codes, centroids, codebook = ivfpq_build(
        df, dim, vec_col, id_col, nlist=nlist, m=m, n_codes=n_codes
    )
    codes = codes.localCheckpoint(eager=True)
    panel = spark.createDataFrame(
        [(int(qid), [float(x) for x in qv]) for qid, qv in queries],
        "query_id long, embedding array<double>",
    )
    exact: dict[int, list[int]] = {}
    for r in ann.batch_topk(df, panel, vec_col, id_col, k=k).collect():
        exact.setdefault(r["query_id"], []).append(int(r[id_col]))
    rows = []
    for method, (nprobe, min_recall) in methods.items():
        got: dict[int, set] = {}
        for r in ivfpq_batch_topk_rerank(
            df, codes, centroids, codebook, queries,
            vec_col, id_col, "query_id", k, shortlist, nprobe,
        ).collect():
            got.setdefault(r["query_id"], set()).add(r[id_col])
        for qid, _ in queries:
            ids = exact.get(int(qid), [])
            hit = got.get(int(qid), set()).intersection(ids)
            recall = len(hit) / float(len(ids)) if ids else 1.0
            rows.append(
                (method, int(qid), sorted(ids), round(recall, 6),
                 recall >= min_recall)
            )
    return spark.createDataFrame(
        rows,
        "method string, query_id long, exact_ids array<long>, "
        "recall double, within_bound boolean",
    )
