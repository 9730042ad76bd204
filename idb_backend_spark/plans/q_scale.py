"""Round-5 scale-path entries — the maintenance and skew operators that
were unit-only, executed under the driver's oracle gate, plus the
composed training-corpus pipeline.

* ``store_compaction`` — T16: threshold-scheduled compaction of the
  uuid-bucketed history store run END-TO-END (fragment with three
  appended harvest batches, rewrite once, grade the latest view off the
  compacted table and assert the one-file-per-bucket outcome as data).
* ``token_index_update`` — T12's steady state: bootstrap the per-file
  token-bucket index over half the corpus, append the other half as new
  data files, run the O(new files) incremental index maintenance, and
  grade the pruned fulltext scan against the full-corpus predicate.
* ``ivf_incremental_ann`` — T20: FAISS-style ``add`` after ``train`` —
  codebook trained on the base half only, the other half ingested
  through ``ivf_add_vectors`` against the frozen codebook, and a query
  vector FROM THE ADDED BATCH recovered via the bucket-partitioned store
  probe, graded against the exact brute-force top-k over the union.
* ``salted_skew_agg`` — §4 skew mitigation graded: the two-level salted
  aggregation over a 3-hot-key column (the pathological shape) must
  equal the plain GROUP BY the oracle runs.
* ``training_corpus_e2e`` — the composition a training-data user
  actually runs: quality gate -> token-window chunking -> keep-first
  chunk dedup -> deterministic split -> per-split corpus stats, every
  stage native expressions, value-checked end-to-end in DuckDB.

Staging dirs/tables are reclaimed at interpreter exit, after the driver
has consumed the lazily-read results (same pattern as q_streaming).
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid as _uuid

from pyspark.sql import functions as F

from idb_backend_spark.functions import text as _text
from idb_backend_spark.plans.registry import _t, query, staging_dir
from idb_backend_spark.plans import synth
from idb_backend_spark.plans.synth import cosine_sql


# --- T16: bucketed-store compaction -----------------------------------

_COMPACT_ORACLE = (
    # three appended batches per key (versions 0..2, modified ascending);
    # batch 2 tombstones keys % 13 = 0, so the latest view = the batch-2
    # row for every surviving key. compacted/files_after assert the
    # rewrite actually happened and produced exactly one file per bucket
    # (8 buckets -> exactly 8 files).
    "SELECT o_orderkey AS uuid, o_orderstatus || '_2' AS etag, "
    "2 AS version, o_orderkey + 3000000 AS modified, "
    "TRUE AS compacted, 8 AS files_after "
    "FROM orders WHERE o_orderkey % 13 != 0 ORDER BY uuid"
)


@query("store_compaction", _COMPACT_ORACLE)
def store_compaction(spark, sf_dir):
    """T16 executed — every appended harvest batch leaves one file per
    bucket, so after three batches the store holds >= 3x num_buckets
    files; ``compact_history`` rewrites it ONCE under the same
    bucketBy/sortBy spec (the zero-exchange layout contract survives,
    asserted by tests/test_store.py) and the latest view graded here
    reads the compacted table. ``files_after`` is the exact post-rewrite
    file count — the driver's value hash fails if the rewrite compacted
    nothing OR only partially (reference analog: Postgres vacuum/cluster
    maintenance the poll-loop store relies on, idb/postgres_backend/db.py).
    """
    from idb_backend_spark.functions.etags import TOMBSTONE_ETAG
    from idb_backend_spark.operators import store as st

    orders = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    num_buckets = 8
    table = f"store_compaction_{_uuid.uuid4().hex[:8]}"

    # resolve the warehouse dir NOW (conf value, absolute) — a relative
    # literal would break if the process cwd moves before interpreter exit
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.abspath("spark-warehouse")
    )
    if wh.startswith("file:"):
        wh = wh[len("file:"):]

    def _cleanup(tbl: str = table, wh: str = wh) -> None:
        # in-memory catalog dies with the session; reclaim warehouse files
        for t in (tbl, f"{tbl}__compact", f"{tbl}__old"):
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

    atexit.register(_cleanup)

    for b in range(3):
        etag = (
            F.when(ok % 13 == 0, TOMBSTONE_ETAG)
            if b == 2
            else F.when(F.lit(False), "never")
        ).otherwise(F.concat_ws("_", F.col("o_orderstatus"), F.lit(str(b))))
        batch = orders.select(
            ok.alias("uuid"),
            etag.alias("etag"),
            F.lit(b).alias("version"),
            (ok + (b + 1) * 1000000).cast("bigint").alias("modified"),
        )
        st.write_bucketed_history(
            batch, table, num_buckets, mode="overwrite" if b == 0 else "append"
        )

    rewrote = st.compact_history(
        spark, table, num_buckets=num_buckets, max_files_per_bucket=2
    )
    files_after = len(spark.table(table).inputFiles())
    return (
        st.latest_view(spark.table(table))
        .select("uuid", "etag", "version", "modified")
        .withColumn("compacted", F.lit(bool(rewrote)))
        # EXACT post-rewrite file count (oracle pins num_buckets=8): a
        # floor-divided files-per-bucket would still read 1 with up to
        # 2x the expected files, hiding a partial compaction
        .withColumn("files_after", F.lit(files_after))
        .orderBy("uuid")
    )


# --- T12 steady state: incremental token-index maintenance ------------

_UPDATE_ORACLE = (
    # the same whole-token conjunction as fulltext_skipping_scan — over
    # the FULL corpus: if the incremental index missed an appended file,
    # pruning drops its matches and the value hash fails. The predicate
    # SQL comes from the one analyzer twin in functions/text.py, not a
    # per-module regex copy.
    "SELECT doc_id, TRUE AS index_updated FROM documents WHERE "
    + _text.whole_token_match_sql("text", "spark window merge")
    + " ORDER BY doc_id"
)


@query("token_index_update", _UPDATE_ORACLE)
def token_index_update(spark, sf_dir):
    """T12's maintenance path executed — bootstrap ``build_token_index``
    over the even-doc half of the corpus, append the odd half as new
    parquet files (the ingest-batch shape), then ``update_token_index``
    indexes ONLY the new files (O(new files), not O(table)) and the
    pruned scan must recover every match from BOTH halves.
    ``index_updated`` encodes that the incremental pass found work: if
    it indexed nothing, the flag flips and the schema/hash mismatch.
    """
    from idb_backend_spark.plans.skipping import (
        build_token_index,
        fulltext_scan,
        update_token_index,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("fulltext")
    )
    work = staging_dir("ft_update_")
    table = os.path.join(work, "docs")
    idx = os.path.join(work, "idx")

    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 != 0)
    even.repartition(4).write.mode("overwrite").parquet(table)
    build_token_index(spark.read.parquet(table), ["fulltext"], idx)
    odd.repartition(4).write.mode("append").parquet(table)
    new_files = update_token_index(spark, table, ["fulltext"], idx)

    out = fulltext_scan(spark, table, idx, "spark window merge")
    return (
        out.select("doc_id")
        .withColumn("index_updated", F.lit(len(new_files) > 0))
        .orderBy("doc_id")
    )


# --- T20: incremental IVF ingestion -----------------------------------

_IVF_COS = cosine_sql("e.embedding", "q.qv")
_IVF_INC_ORACLE = (
    # exact brute-force top-10 over the FULL corpus; the query vector
    # (vec_id = 1) lives in the incrementally ADDED batch, so a recall
    # loss on either the base store or the appended partitions fails the
    # value hash
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1) "
    "SELECT vec_id, round(" + _IVF_COS + ", 6) AS cosine "
    "FROM embeddings e, q ORDER BY cosine DESC, vec_id LIMIT 10"
)


@query("ivf_incremental_ann", _IVF_INC_ORACLE)
def ivf_incremental_ann(spark, sf_dir):
    """T20 executed — the steady-state IVF contract (FAISS ``add`` after
    ``train``): the codebook is trained on the even-id base half only
    and FROZEN; the odd-id half arrives later through ``ivf_add_vectors``
    (assign to nearest frozen centroid, append to the bucket partition —
    ingest cost O(batch)). The probe then answers a query FROM THE ADDED
    BATCH off the bucket-partitioned store, graded against the exact
    brute-force top-10 over the union — a miss on either half fails.
    """
    from idb_backend_spark.operators import ann

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    added = emb.filter(F.col("vec_id") % 2 != 0)

    work = staging_dir("ivf_inc_")
    path = os.path.join(work, "store")

    # two Lloyd rounds refine the HALF-data codebook before it freezes
    assigned, centroids = ann.ivf_build(base, nlist=8, iterations=2)
    ann.ivf_write(assigned, path)
    ann.ivf_add_vectors(added, centroids, path)

    qvec = emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]
    # nprobe = nlist, deliberately: THIS entry's graded claim is the
    # incremental-add path (frozen-codebook assignment, partition append,
    # union probe across both halves), so the probe must be exact at any
    # scale. Probe-PRUNING recall at nprobe < nlist is ivf_ann_topk's
    # separately graded claim; on this uniformly-spread synthetic corpus
    # (IVF's worst case) the true top-10 spans 7-8 of the 8 buckets at
    # the shipped scales — measured, not assumed — so pruned exact top-10
    # is not an honest promise here, and pretending otherwise would make
    # the row scale-fragile.
    return ann.ivf_topk(
        spark.read.parquet(path), centroids, qvec, k=10, nprobe=8
    )


# --- §4 skew mitigation graded ----------------------------------------

_SKEW_ORACLE = (
    "SELECT o_orderstatus AS status, count(*) AS n "
    "FROM orders GROUP BY o_orderstatus ORDER BY status"
)


@query("salted_skew_agg", _SKEW_ORACLE)
def salted_skew_agg(spark, sf_dir):
    """Skew-mitigation correctness gate — ``salted_count`` over the
    3-distinct-value status column (every key pathologically hot: the
    shape where a plain groupBy funnels the table through 3 reducers).
    The two-level plan spreads each key over 16 salt lanes then
    re-aggregates 16 partials per key; the oracle's plain GROUP BY
    asserts the salting is invisible in the result (operators/skew.py).

    The frame KEEPS the row-distinct order key alongside the hot column:
    ``with_salt`` hashes every column, so a frame projected down to the
    group key alone gets one salt value per key and spreads nothing
    (tests/test_rss_skew_pruning.py pins the per-key lane fan-out).
    """
    from idb_backend_spark.operators.skew import salted_count

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"), "o_orderkey"
    )
    return (
        salted_count(orders, ["status"], n_salts=16, out="n")
        .orderBy("status")
    )


# --- composed training-corpus pipeline --------------------------------

# shared with document_chunking's oracle — see plans.synth
_E2E_TOKS = synth.TOKS_SQL
_E2E_CHUNK, _E2E_OVERLAP = synth.CHUNK, synth.OVERLAP
_E2E_STRIDE = synth.STRIDE

_E2E_ORACLE = (
    "WITH t AS (SELECT doc_id, " + _E2E_TOKS + " AS toks FROM documents), "
    "c AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8), "
    "g AS (SELECT doc_id, toks, unnest(generate_series(0, "
    f"  CAST(ceil(greatest(n - {_E2E_OVERLAP}, 1) / {_E2E_STRIDE}.0) AS INT) - 1)) "
    "  AS chunk_id FROM c), "
    "ch AS (SELECT doc_id, chunk_id, array_to_string("
    f"  list_slice(toks, chunk_id*{_E2E_STRIDE} + 1, "
    f"             chunk_id*{_E2E_STRIDE} + {_E2E_CHUNK}), ' ') AS chunk_text "
    "  FROM g), "
    "kf AS (SELECT doc_id, chunk_id, chunk_text, row_number() OVER ("
    "  PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn FROM ch), "
    # split CASE generated from the engine's cut-point rounding
    # (synth.split_case_sql) — same builder as deterministic_split's
    "sp AS (SELECT doc_id, chunk_text, " + synth.split_case_sql("doc_id")
    + " AS split FROM kf WHERE rn = 1) "
    "SELECT split, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs, "
    "CAST(sum(len(str_split(chunk_text, ' '))) AS BIGINT) AS n_tokens "
    "FROM sp GROUP BY split ORDER BY split"
)


@query("training_corpus_e2e", _E2E_ORACLE)
def training_corpus_e2e(spark, sf_dir):
    """The composed training-data path (T13+T1+T14 chained — the
    pipeline a model-data team actually runs): quality-gate documents
    (>= 8 tokens), chunk into overlapping 32-token windows, drop
    duplicate chunks keep-first (window min over the chunk text — ONE
    exchange), assign the deterministic md5 split BY DOCUMENT (chunks of
    one doc never straddle train/test — the leakage rule), and roll up
    per-split corpus stats. Every stage is native expressions; the
    oracle rebuilds the identical pipeline in DuckDB, so window
    arithmetic, dedup tie-breaks, and split cut-points are all
    value-checked end-to-end.
    """
    from pyspark.sql import Window

    from idb_backend_spark.functions import text
    from idb_backend_spark.operators.sampling import split_assignment

    docs = _t(spark, sf_dir, "documents")
    # normalized text staged once (r15 s3): the gate + tokenization ran
    # the normalize chain 3x per row in the expression forms
    docs = docs.withColumn("__norm", text.normalize_text("text"))
    from idb_backend_spark.session import barrier_filter

    chunks = (
        barrier_filter(docs, text.token_count_from_norm(F.col("__norm")) >= 8)
        .select(
            "doc_id",
            F.explode(
                text.chunks_from_tokens(
                    text.tokens_from_norm(F.col("__norm")),
                    _E2E_CHUNK, _E2E_OVERLAP,
                )
            ).alias("c"),
        )
        .select("doc_id", F.col("c.chunk_id"), F.col("c.chunk_text"))
    )
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_id")
    kept = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn("split", split_assignment("doc_id"))
    )
    return (
        kept.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.size(F.split("chunk_text", " "))).alias("n_tokens"),
        )
        .orderBy("split")
    )


# --- T25/T26: domain mixture + sequence packing ------------------------

#: the graded mixture — exercises every arm of the CASE: keep-all (1.0),
#: two interior cut points, a small fraction that rounds to the 5/256
#: floor, an exact-zero drop domain, and the default arm for the 15
#: domains not listed. ONE dict renders into both the Spark filter and
#: (via synth.mixture_keep_sql) the oracle predicate.
_MIX_FRACTIONS = {
    "src0": 1.0,
    "src1": 0.5,
    "src2": 0.25,
    "src3": 0.02,
    "src4": 0.0,
}
_MIX_DEFAULT = 0.1

_MIX_ORACLE = (
    "SELECT doc_id, source FROM documents WHERE "
    + synth.mixture_keep_sql("source", "doc_id", _MIX_FRACTIONS, _MIX_DEFAULT)
    + " ORDER BY doc_id"
)


@query("mixture_sample", _MIX_ORACLE)
def mixture_sample_q(spark, sf_dir):
    """T25 — deterministic domain-mixture sampling (the corpus-mixing
    step of a training-data pipeline): keep a per-domain fraction of
    rows as a pure function of the row key
    (operators/sampling.py:mixture_sample). One native CASE over the
    md5-prefix threshold — stable under reruns, appends, and
    repartitioning, pushes into the scan with no shuffle, and the
    oracle predicate is GENERATED from the same fractions dict so the
    mixture cannot drift from its audit SQL. No counterpart in the
    reference (training-pipeline extension tier).
    """
    from idb_backend_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_sample(
        docs, "source", "doc_id", _MIX_FRACTIONS, _MIX_DEFAULT
    ).orderBy("doc_id")


_PACK_SEQ_LEN = 256
_PACK_SHARDS = 8

_PACK_ORACLE = (
    "WITH t AS (SELECT doc_id, " + synth.TOKCNT_SQL + " AS n_tok, "
    + synth.md5_shard_sql("doc_id", _PACK_SHARDS) + " AS shard "
    "FROM documents), "
    "c AS (SELECT doc_id, shard, "
    "  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok "
    "    AS cum_before FROM t) "
    f"SELECT doc_id, CAST(shard * (1::BIGINT << 40) "
    f"  + (cum_before // {_PACK_SEQ_LEN}) AS BIGINT) AS bin_id "
    "FROM c ORDER BY doc_id"
)


@query("sequence_packing", _PACK_ORACLE)
def sequence_packing(spark, sf_dir):
    """T26 — approximate sequence packing (functions/text.py:
    pack_sequences): assign documents to fixed-capacity training
    sequences (the step that fills model context windows instead of
    padding per document). Documents shard by the portable md5 hash of
    the key, a per-shard window computes the running token count, and
    bin = cumulative_before // seq_len packed with the shard into one
    bigint — deterministic, one exchange, partitioning-independent.
    The oracle rebuilds the identical cumulative-sum binning in DuckDB
    (same shard hash via synth.md5_shard_sql), so the shard function,
    window frame, and bin arithmetic are all value-checked. No
    counterpart in the reference (training-pipeline extension tier).
    """
    from idb_backend_spark.functions import text

    docs = _t(spark, sf_dir, "documents").withColumn(
        "__norm", text.normalize_text("text")
    ).select(
        "doc_id",
        text.token_count_from_norm(F.col("__norm")).alias("n_tok"),
    )
    packed = text.pack_sequences(
        docs, "n_tok", ["doc_id"],
        seq_len=_PACK_SEQ_LEN, n_shards=_PACK_SHARDS,
    )
    return packed.select("doc_id", "bin_id").orderBy("doc_id")
