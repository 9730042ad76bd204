"""Training-data pipeline entries: dedup tiers, text analysis,
similarity search (north-star operators)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from idb_backend_spark.operators import aggregates as agg  # noqa: F401
from idb_backend_spark.operators import (  # noqa: F401
    ann,
    dedup,
    pq,
    quantize,
    relations,
    tfidf,
    versioning,
)
from idb_backend_spark.functions import grabbers, text  # noqa: F401
from idb_backend_spark.plans.registry import _t, _t_spread, query, staging_dir
from idb_backend_spark.plans import synth
from idb_backend_spark.plans.synth import cosine_sql
from idb_backend_spark.query.shim import compile_shim, shim_to_sql  # noqa: F401


# Training-data pipeline operators (north star: dedup / text / similarity)
# --------------------------------------------------------------------------


@query(
    "exact_dedup",
    "SELECT md5(" + synth.NORM_SQL + ") AS fp, "
    "min(doc_id) AS keeper, count(*) AS n_copies "
    "FROM documents GROUP BY 1 ORDER BY fp",
)
def exact_dedup_q(spark, sf_dir):
    """Exact dedup by content fingerprint (hash groupBy)."""
    docs = _t_spread(spark, sf_dir, "documents", "doc_id")
    return dedup.exact_dedup(docs, "text", "doc_id").orderBy("fp")


@query(
    "token_count_quality",
    # TOKCNT_SQL, not a bare len(): token_count guards empty text to 0
    # while splitting '' yields one empty token in both engines
    "SELECT doc_id, " + synth.TOKCNT_SQL + " AS n_tokens "
    "FROM documents ORDER BY doc_id",
)
def token_count_quality(spark, sf_dir):
    """Text analysis — whitespace token counting."""
    docs = _t_spread(spark, sf_dir, "documents", "doc_id", by_range=True)
    # normalized text staged once: the expression form pays the
    # case-fold + whitespace-collapse chain twice (empty guard + split)
    docs = docs.withColumn("__norm", text.normalize_text("text"))
    return docs.select(
        "doc_id",
        text.token_count_from_norm(F.col("__norm")).alias("n_tokens"),
    ).orderBy("doc_id")


# Catalog entry `doc_fingerprint` retired to free a grading
# slot (catalog.py retirement rule). The operator stays covered:
# text.fingerprint is the SAME md5-of-normalized-text expression
# `exact_dedup` grades per-group (its fp column), and
# the byte-exact content-hash discipline stays driver-graded through
# `versioned_merge` (etag chain) — plus unit tests in tests/test_etags.py.


@query(
    "lang_id_heuristic",
    # marker-hit argmax, tie-broken by language code ascending; score
    # columns and CASE are GENERATED from functions.text.LANG_MARKERS
    # (synth.py) so engine and oracle update together
    "WITH toks AS (SELECT doc_id, "
    + synth.TOKS_SQL + " AS t FROM documents), "
    "scores AS (SELECT doc_id, " + synth.lang_score_cols_sql("t")
    + " FROM toks) "
    "SELECT doc_id, " + synth.lang_case_sql() + " AS lang_pred "
    "FROM scores ORDER BY doc_id",
)
def lang_id_heuristic(spark, sf_dir):
    """Text analysis — marker-lexicon language ID (argmax, deterministic
    tie-break by language code)."""
    docs = _t_spread(spark, sf_dir, "documents", "doc_id", by_range=True)
    # normalized text staged once: the expression form re-ran
    # the normalize chain once PER LANGUAGE (5 full-document passes/row);
    # marker hits staged once: the 5 per-language regexp_count
    # document scans collapse to one regexp_extract_all over the union
    # alternation; the argmax tallies re-scan only the short extracted
    # hits string (which satisfies the from_norm contract)
    docs = docs.withColumn("__norm", text.normalize_text("text"))
    docs = docs.withColumn(
        "__lhits_s", text.lang_marker_hits_string(F.col("__norm"))
    )
    return docs.select(
        "doc_id",
        text.lang_id_from_norm(F.col("__lhits_s")).alias("lang_pred"),
    ).orderBy("doc_id")


# Catalog entry `ngram_jaccard_pairs` retired to free a
# grading slot (catalog.py retirement rule). The exact-Jaccard semantics
# stay driver-graded: `minhash_exact_verified` computes
# the SAME inverted-index exact-Jaccard pair set as its recall oracle
# (synth.EXACT_JACCARD_SQL, identical threshold contract), and
# `neardup_index_probe` grades the cross-frame variant; the operator
# keeps its row-for-row twin test in tests/test_dedup_quality.py. At
# scale the minhash tier supersedes the full inverted-index self-join
# anyway — the graded entries are the ones a 100 TB run executes.


# Catalog entry `ann_cosine_topk` retired from GRADING to
# free a slot for the S15 `datasets_index_codes` promotion
# (q_relational.py) — same discipline as the dqs_score /
# latest_object_per_url retirements: the brute-force rounded-cosine
# top-k kernel stays ORACLE-graded because it IS the
# oracle of `ivf_ann_topk` (the exact-cosine top-10 at 6 decimals the
# IVF result must reproduce) and of `pq_recall_audit` (whose audit
# contract hashes the exact-cosine id sets), both computed through the
# same functions/similarity.cosine_similarity expression this entry
# projects. Kept runnable (graded=False) for bench.py's HEADLINE and
# smoke; the batched-multi-query variant keeps its value tests in
# tests/test_properties.py and its broadcast-plan test in
# tests/test_plan_properties.py.
@query("ann_cosine_topk", graded=False)
def ann_cosine_topk(spark, sf_dir):
    """Similarity search — brute-force cosine top-k (exact baseline).

    Rounded to 4 decimals; ordering computed on the rounded value so
    ties break identically by vec_id (the retired oracle's contract —
    see the retirement note above for where the kernel stays graded)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    from idb_backend_spark.functions.similarity import cosine_similarity

    sim = cosine_similarity(F.col("embedding"), ann._vec_lit(qvec))
    return (
        emb.select("vec_id", F.round(sim, 4).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


# Non-SQL-expressible sketch operators — registered graded=False so they
# never occupy driver grading slots (they would read as permanent
# no-oracle rows). Their recall IS oracle-proven by the exact-verified
# siblings `minhash_exact_verified` / `simhash_exact_verified`, which
# exercise the same sketch code paths; bench.py still times
# minhash_lsh_pairs via the UNGRADED map.


@query("minhash_lsh_pairs", graded=False)
def minhash_lsh_pairs_q(spark, sf_dir):
    """Near-dup — MinHash+LSH candidate pairs (hash-family not expressible
    in ANSI SQL; verified by unit tests against exact Jaccard)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", shingle_k=3, num_hashes=64, bands=16,
        threshold=0.5,
    ).orderBy("id_a", "id_b")


@query("simhash_pairs", graded=False)
def simhash_pairs_q(spark, sf_dir):
    """Near-dup — SimHash fingerprints within Hamming radius 3."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


_COS_AB = cosine_sql("a.embedding", "b.embedding")


@query(
    "embedding_near_dup",
    # exact brute-force pair oracle: the banded LSH must recall every
    # true pair at this threshold or the hash mismatches — the driver
    # gate doubles as a recall regression test
    # threshold on the ROUNDED cosine, exactly as the engine does
    # (dedup.embedding_near_dup_pairs rounds to 6dp before filtering):
    # thresholding rounded-on-one-side/exact-on-the-other diverges for
    # any pair with true cosine in [threshold - 5e-7, threshold)
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "round(" + _COS_AB + ", 6) AS cosine "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "WHERE round(" + _COS_AB + ", 6) >= 0.35 ORDER BY id_a, id_b",
)
def embedding_near_dup_q(spark, sf_dir):
    """Near-dup — embedding-cosine pairs via BANDED random-hyperplane LSH
    (AND-OR: 32 bands × auto-sized bits). Exact cosine verification runs
    on candidates only, so the output is a subset of the brute-force pair
    set — equal to it when the bands recall every true pair, which the
    exact oracle asserts."""
    emb = _t(spark, sf_dir, "embeddings")
    # synthetic embeddings are well-spread (max pairwise cosine ≈ 0.51 at
    # sf0.01), so the demo threshold sits at the top of that distribution
    return dedup.embedding_near_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.35, n_bands=32
    ).orderBy("id_a", "id_b")


@query(
    # same exact 3-gram Jaccard oracle as ngram_jaccard_pairs (ONE
    # builder in synth.py): the LSH candidate tier must recall every
    # true pair at the threshold
    "minhash_exact_verified",
    synth.EXACT_JACCARD_SQL,
)
def minhash_exact_verified_q(spark, sf_dir):
    """Near-dup — MinHash-LSH candidates verified by EXACT shingle
    Jaccard. The sketch only prunes; the exact verify makes the operator
    oracle-checkable against the true pair set (a hash mismatch here is a
    genuine LSH recall loss)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_exact_verified_pairs(
        docs, "text", "doc_id", shingle_k=3, num_hashes=64, bands=16,
        threshold=0.8,
    ).orderBy("id_a", "id_b")


@query(
    "ivf_ann_topk",
    # exact brute-force top-k oracle: the probed buckets must
    # contain the true top-10 or the hash mismatches — the driver gate
    # doubles as an IVF recall regression test at these (nlist, nprobe)
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
    "SELECT vec_id, round(" + cosine_sql("e.embedding", "q.qv") + ", 6) AS cosine "
    "FROM embeddings e, q ORDER BY cosine DESC, vec_id LIMIT 10",
)
def ivf_ann_topk_q(spark, sf_dir):
    """Similarity search — IVF-bucketed ANN (scale path), Lloyd-refined
    codebook. The demo corpus is uniformly spread (no cluster structure —
    the worst case for IVF: the true top-10 lands in 6-7 of 8 buckets at
    every shipped scale, measured), so exact top-10 recall needs 7/8
    probes here — parameters chosen to hold at sf0.001/0.01/0.1 alike,
    not just the graded scale. Clustered real corpora probe far fewer
    buckets for the same recall; unit tests track recall across
    parameter settings."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    # two Lloyd rounds: the refined codebook needs one fewer probe than
    # the seeded sample at the largest scale (max needed rank 8 -> 6-7)
    assigned, centroids = ann.ivf_build(emb, nlist=8, iterations=2)
    return ann.ivf_topk(assigned, centroids, qvec, k=10, nprobe=7)


_QE_SQL = quantize.quantize_sql("embedding")


@query(
    "quantized_cosine_topk",
    # the oracle REPLICATES the int8 quantization (quantize.quantize_sql
    # is the one shared rendering), then scores with the shared cosine
    # builder: codes are exact integers, so both engines' double sums are
    # exact and the hash compares the quantizer itself, not float luck.
    # The approximation vs the FLOAT top-k is pinned by the recall unit
    # test (tests/test_quantize.py), not by this oracle.
    f"WITH qe AS (SELECT vec_id, {_QE_SQL} AS qvec FROM embeddings), "
    "q AS (SELECT qvec AS qv FROM qe WHERE vec_id = 0) "
    "SELECT qe.vec_id, round(" + cosine_sql("qe.qvec", "q.qv") + ", 6) "
    "AS cosine_q FROM qe, q ORDER BY cosine_q DESC, qe.vec_id LIMIT 10",
)
def quantized_cosine_topk_q(spark, sf_dir):
    """Similarity search — int8-quantized (SQ8) cosine top-k: the 4x
    scan-bytes tier below IVF. Quantization is one native projection
    (operators/quantize.py); scoring runs on exact-integer code arrays,
    so the result is bit-deterministic across engines and summation
    orders — the driver gate grades the quantizer's codes end-to-end."""
    emb = _t(spark, sf_dir, "embeddings")
    qdf = emb.select("vec_id", quantize.quantize_vector("embedding").alias("qvec"))
    q0 = qdf.filter(F.col("vec_id") == 0).select("qvec").first()[0]
    return quantize.quantized_topk(qdf, q0, "qvec", "vec_id", k=10)


@query("tfidf_top_terms", tfidf.tfidf_top_terms_sql(k=5))
def tfidf_top_terms_q(spark, sf_dir):
    """T29's TF-IDF half — top-5 salient terms per document (keyword
    extraction for topic filtering / index enrichment; the per-document
    inversion of the reference's uniquevals term statistics,
    idb/indexing/index.py term-vector usage). ONE corpus explode feeds
    tf; df derives FROM tf (no second corpus scan); the scoring join is
    |vocabulary|-sized and broadcast by AQE. Ranking is on the
    6-dp-ROUNDED score with an integer (tf, df, term) tie-break, so
    exact mathematical ties order identically on both engines — see
    operators/tfidf.py for the rounding-before-ranking rationale."""
    docs = _t_spread(spark, sf_dir, "documents", "doc_id")
    return tfidf.tfidf_top_terms(docs, "text", "doc_id", k=5).orderBy(
        "doc_id", "rank"
    )


# pq_recall_audit's bounded audit panel: the first _PQ_NQ vec_ids. The
# oracle grades the exact-cosine id sets and the recall CONTRACTS
# (within_bound must be TRUE at these parameters), never the raw
# recall values — the sketch_audits pattern (q_corpusops.py): estimates
# are implementation-defined, contracts are portable. Two methods ride
# the slot: flat PQ (nprobe = nlist; recall>=0.8 gate; measures 0.9 min
# on this panel) and the bucket-pruned IVF-PQ composition (recall>=0.7
# gate — pruning honestly costs recall; measures 0.9 min at nprobe=7 on
# this panel).
_PQ_NQ = 4
_PQ_K = 10
_PQ_SHORTLIST = 200
_PQ_NLIST = 8
_PQ_MIN_RECALL = 0.8
_IVFPQ_NPROBE = 7
_IVFPQ_MIN_RECALL = 0.7


def _pq_recall_oracle() -> str:
    cos = cosine_sql("e.embedding", "qs.qv")
    return (
        "WITH qs AS (SELECT vec_id AS query_id, embedding AS qv "
        f"  FROM embeddings WHERE vec_id < {_PQ_NQ}), "
        f"sc AS (SELECT qs.query_id, e.vec_id, round({cos}, 6) AS c "
        "  FROM embeddings e CROSS JOIN qs), "
        "r AS (SELECT query_id, vec_id, row_number() OVER ("
        "  PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn FROM sc), "
        "t AS (SELECT query_id, "
        "  string_agg(vec_id, '|' ORDER BY vec_id) AS exact_ids "
        f"  FROM r WHERE rn <= {_PQ_K} GROUP BY query_id) "
        "SELECT m.method, t.query_id, t.exact_ids, TRUE AS within_bound "
        "FROM t CROSS JOIN (VALUES ('pq'), ('ivfpq')) AS m(method) "
        "ORDER BY method, query_id"
    )


@query("pq_recall_audit", _pq_recall_oracle())
def pq_recall_audit_q(spark, sf_dir):
    """T31's PQ half — product quantization, BOTH deployment shapes in
    one audit slot: flat PQ (ADC over every code row + exact re-rank —
    the memory-bound tier above IVF/SQ8: codes are m bytes a vector, so
    the corpus-wide candidate scan reads ~32x fewer bytes than float
    vectors) and IVF-PQ (the same ADC behind the coarse quantizer's
    bucket pruning — the candidate scan reads nprobe/nlist of the code
    rows on top of the byte shrink; the composition a 100 TB ANN
    actually runs). Flat PQ IS IVF-PQ probed at nprobe = nlist, so both
    methods share one pq.recall_audit: one build, one exact top-k of
    the panel, and one batched panel retrieval per probe width (the
    one-codes-pass shape that carries the deployment economics,
    SCALING.md, "TF-IDF and PQ tiers at 10×"). Audit-contract grading (the
    sketch_audits pattern): the graded columns are the exact-cosine id sets
    (real content, same 6-dp rounding as the brute-force tier) plus the
    per-method recall contract booleans (pq>=0.8, ivfpq>=0.7) — the slot
    fails iff either retrieval path degrades below its advertised bound. Raw
    recall values are engine-side-only and deliberately NOT graded."""
    emb = _t(spark, sf_dir, "embeddings")
    panel = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < _PQ_NQ)
        .orderBy("vec_id")
        .collect()
    ]
    audit = pq.recall_audit(
        emb,
        panel,
        64,
        {
            "pq": (_PQ_NLIST, _PQ_MIN_RECALL),
            "ivfpq": (_IVFPQ_NPROBE, _IVFPQ_MIN_RECALL),
        },
        k=_PQ_K,
        shortlist=_PQ_SHORTLIST,
        nlist=_PQ_NLIST,
    )
    return audit.select(
        "method",
        "query_id",
        F.array_join(
            F.transform("exact_ids", lambda x: x.cast("string")), "|"
        ).alias("exact_ids"),
        "within_bound",
    ).orderBy("method", "query_id")


# the quality score's stopword ratio uses the English marker list — the
# same LANG_MARKERS['en'] the engine's quality_score defaults to,
# rendered through the one shared SQL-literal renderer
_SW_EN = synth.sql_word_list(text.LANG_MARKERS["en"])


@query(
    "corpus_curation_pipeline",
    # the full training-data prep chain in SQL: normalize -> lang-ID ->
    # quality score (length/stopword/punct) -> threshold filter -> exact
    # dedup keep-min-id -> per-language corpus stats. Decimal-cast sums
    # keep the aggregates order-independent across engines.
    "WITH t AS (SELECT doc_id, text, "
    "  " + synth.NORM_SQL + " AS norm FROM documents), "
    "tok AS (SELECT *, regexp_split_to_array(norm, ' ') AS toks FROM t), "
    "m AS (SELECT doc_id, text, norm, toks, "
    "  CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS n_tok, "
    "  least(length(text) / 500.0, 1.0) AS len_score, "
    f"  len(list_filter(toks, x -> x IN ({_SW_EN}))) "
    "    / CAST(len(toks) AS DOUBLE) AS swr, "
    "  CASE WHEN length(text) > 0 THEN "
    "    length(regexp_replace(text, '[^!-/:-@[-`{-~]', '', 'g')) "
    "      / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS pr, "
    + synth.lang_score_cols_sql("toks") + " "
    "  FROM tok), "
    # NULL text -> NULL q and the penalty floored at 0: the exact clamp
    # semantics of functions.text.quality_score_from_norm
    "q AS (SELECT *, CASE WHEN text IS NULL THEN NULL ELSE "
    "  round(greatest(0.5 * len_score + 0.5 * least(swr * 5, 1.0) "
    "  - 0.25 * least(pr * 4, 1.0), 0.0), 6) END AS q, "
    + synth.lang_case_sql() + " AS lang "
    "  FROM m), "
    "f AS (SELECT * FROM q WHERE q >= 0.3 AND n_tok >= 5), "
    "k AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(norm)) AS keeper FROM f) "
    "SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens, "
    "round(CAST(sum(CAST(q AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6) "
    "  AS avg_quality "
    "FROM k WHERE doc_id = keeper GROUP BY lang ORDER BY lang",
)
def corpus_curation_pipeline(spark, sf_dir):
    """Composed LLM-corpus curation — the end-to-end training-data prep
    path: language ID, composite quality score, token counting, threshold
    filtering, exact dedup (keep min-id representative), per-language
    corpus statistics. Every stage is a native expression or a single
    hash aggregation; at 100 TB the only shuffles are the dedup groupBy
    on the content fingerprint and the final (tiny) per-language rollup.
    Sums go through decimal so cross-engine float ordering can't diverge."""
    from idb_backend_spark.functions import text as T
    from idb_backend_spark.operators.dedup import exact_dedup_keep_first
    from idb_backend_spark.session import barrier_filter, spread_for_compute

    # spread: a small single-file corpus otherwise runs the whole
    # enrichment serially in the one-split scan stage; at real scale the
    # scan is already many-split and this is a no-op
    docs = spread_for_compute(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # normalized text staged once: lang (5 marker scans), q
    # (stopword scan + token split) and n_tok each re-ran the full
    # normalize chain per row in the expression forms — 9 case-fold +
    # whitespace-collapse document passes collapse to 1. Marker hits
    # staged once more: lang's 5 per-language regexp_count scans
    # AND q's stopword scan (its default list IS the en marker list)
    # all tally off ONE regexp_extract_all document scan, re-scanning
    # only the short extracted hits string (locally neutral at this
    # corpus's ~120-byte documents; document-scan count 6 -> 1 is what
    # scales with document length)
    docs = docs.withColumn("__norm", T.normalize_text("text"))
    docs = docs.withColumn(
        "__lhits_s", T.lang_marker_hits_string(F.col("__norm"))
    )
    enriched = docs.select(
        "doc_id",
        "text",
        "__norm",
        T.lang_id_from_norm(F.col("__lhits_s")).alias("lang"),
        T.quality_score_from_norm(
            "text",
            F.col("__norm"),
            hits=T.marker_hits_from_norm(
                F.col("__lhits_s"), T.LANG_MARKERS["en"]
            ),
        ).alias("q"),
        T.token_count_from_norm(F.col("__norm")).alias("n_tok"),
    )
    # barrier_filter, not a plain filter: PushDownPredicate substitutes the
    # gate's q/n_tok DEFINITIONS through the enrichment and __norm
    # staging projections (and without a barrier, below the
    # spread exchange into the serial scan stage) — the full quality
    # stack then evaluated per row in the pushed filter AND again in
    # the projection. The nondeterministic conjunct makes the gate
    # non-pushable, so it reads the staged columns: one evaluation,
    # parallel (DESIGN.md, "Barrier filter above the spread").
    filtered = barrier_filter(
        enriched, (F.col("q") >= 0.3) & (F.col("n_tok") >= 5)
    )
    # project-before-the-exchange: the per-language rollup
    # below reads only (lang, n_tok, q, doc_id) — the text column exists
    # solely to compute the dedup fingerprint, so it must not ride the
    # dedup shuffle (at corpus scale the text IS the bytes)
    kept = exact_dedup_keep_first(
        filtered, "text", "doc_id",
        keep_cols=["doc_id", "lang", "q", "n_tok"], norm_col="__norm"
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(F.col("q").cast("decimal(12,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
        .orderBy("lang")
    )


# Catalog entry `fulltext_skipping_scan` retired to free a
# grading slot (catalog.py retirement rule). P7 fulltext semantics stay
# driver-graded via `shim_fulltext` (same tokenizer, same whole-token
# conjunction); the skip-index maintenance loop stays driver-graded via
# `token_index_update` (bootstrap + incremental update + pruned scan,
# the steady-state superset of what this entry exercised); the
# no-false-negative pruning contract keeps its dedicated unit coverage
# in tests/test_skipping.py.

# Catalog entry `ann_batch_topk` retired to free a grading
# slot (catalog.py retirement rule). The batched-query kernel is the SAME
# rounded-cosine + window-top-k expression `ann_cosine_topk` projects
# single-query, and it stays graded: `pq_recall_audit` ranks its exact
# panel top-k with `ann.batch_topk`. It also keeps its broadcast-
# plan assertion AND a per-query-equals-exact-brute-force value test in
# tests/test_plan_properties.py / tests/test_properties.py.


# --------------------------------------------------------------------------
# Training-pipeline entries: chunking, deterministic split,
# decontamination
# --------------------------------------------------------------------------

_NORM_SQL = synth.NORM_SQL
_TOKS_SQL = synth.TOKS_SQL

#: chunk window parameters for the graded entry (docs average ~54 tokens
#: at sf0.01, so most yield 2-3 overlapping chunks)
_CHUNK, _OVERLAP = synth.CHUNK, synth.OVERLAP
_STRIDE = synth.STRIDE


@query(
    "document_chunking",
    "WITH t AS (SELECT doc_id, " + _TOKS_SQL + " AS toks FROM documents), "
    "c AS (SELECT doc_id, toks, len(toks) AS n FROM t), "
    "g AS (SELECT doc_id, toks, unnest(generate_series(0, "
    f"  CAST(ceil(greatest(n - {_OVERLAP}, 1) / {_STRIDE}.0) AS INT) - 1)) "
    "  AS chunk_id FROM c) "
    "SELECT doc_id, chunk_id, array_to_string("
    f"  list_slice(toks, chunk_id*{_STRIDE} + 1, chunk_id*{_STRIDE} + {_CHUNK}),"
    "  ' ') AS chunk_text "
    "FROM g ORDER BY doc_id, chunk_id",
)
def document_chunking(spark, sf_dir):
    """Token-window chunking — documents into overlapping fixed-size
    model inputs (chunk 32, overlap 8), all native expressions
    (functions/text.py:chunks_from_tokens); the oracle rebuilds every
    window with DuckDB list functions, so window arithmetic, the short
    final window, and the >=1-chunk-per-doc contract are value-checked.
    """
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select("doc_id", text.tokens("text").alias("__t"))
    return (
        staged.select(
            "doc_id",
            F.explode(
                text.chunks_from_tokens(F.col("__t"), _CHUNK, _OVERLAP)
            ).alias("c"),
        )
        .select("doc_id", F.col("c.chunk_id"), F.col("c.chunk_text"))
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "deterministic_split",
    # the same md5-prefix comparison in DuckDB — the split is auditable
    # from any SQL engine, which is the point of the design; the CASE is
    # GENERATED from the engine's own cut-point rounding (synth.
    # split_case_sql ← sampling.md5_cut) so thresholds cannot drift
    "WITH s AS (SELECT doc_id, " + synth.split_case_sql("doc_id")
    + " AS split FROM documents) "
    "SELECT doc_id, split FROM s ORDER BY doc_id",
)
def deterministic_split_q(spark, sf_dir):
    """Train/val/test assignment as a pure function of the row key
    (operators/sampling.py): stable under reruns, appends, and
    repartitioning — unlike randomSplit, whose assignment depends on
    seed and physical partitioning. 80/10/10 via md5-prefix cut points.
    """
    from idb_backend_spark.operators.sampling import deterministic_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_split(docs, "doc_id").orderBy("doc_id")


@query(
    "benchmark_contamination",
    "WITH tok AS (SELECT doc_id, " + _TOKS_SQL + " AS t, "
    + _NORM_SQL + " AS nm FROM documents), "
    "win AS (SELECT doc_id, CASE WHEN len(t) >= 5 "
    "  THEN array_to_string(list_slice(t, i.i + 1, i.i + 5), ' ') "
    "  ELSE nm END AS sh "
    "  FROM tok, LATERAL (SELECT unnest(generate_series(0, "
    "    greatest(len(t) - 5, 0))) AS i) i), "
    "dsh AS (SELECT DISTINCT doc_id, sh FROM win), "
    "bsh AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 7 = 0), "
    "hits AS (SELECT d.doc_id, count(*) AS n_shared FROM dsh d "
    "  JOIN bsh USING (sh) WHERE d.doc_id % 7 != 0 GROUP BY d.doc_id) "
    "SELECT doc_id, n_shared FROM hits WHERE n_shared >= 2 ORDER BY doc_id",
)
def benchmark_contamination_q(spark, sf_dir):
    """Decontamination — training docs sharing >=2 distinct word
    5-shingles with any 'benchmark' doc (doc_id % 7 = 0 stands in for
    the eval suite). The benchmark shingle set broadcasts; the corpus
    side never shuffles (operators/dedup.py:benchmark_contamination)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    out = dedup.benchmark_contamination(
        train, bench, "text", "doc_id", k=5, min_shared=2
    )
    return out.select(F.col("id").alias("doc_id"), "n_shared").orderBy(
        "doc_id"
    )


@query(
    "repetition_quality",
    # same fractions from DuckDB list functions: dup-token share and the
    # top bigram's share of all bigrams, rounded identically
    "WITH t AS (SELECT doc_id, " + _TOKS_SQL + " AS toks FROM documents), "
    "g AS (SELECT doc_id, toks, CASE WHEN len(toks) >= 2 THEN "
    "  [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))] "
    "  ELSE [] END AS grams FROM t) "
    "SELECT doc_id, "
    "round(CASE WHEN len(toks) > 0 THEN "
    "  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) "
    "  ELSE 0.0 END, 6) AS dup_token_frac, "
    "round(CASE WHEN len(grams) > 0 THEN "
    "  CAST(list_max(list_transform(list_distinct(grams), "
    "    x -> len(list_filter(grams, y -> y = x)))) AS DOUBLE) / len(grams) "
    "  ELSE 0.0 END, 6) AS top_bigram_frac "
    "FROM g ORDER BY doc_id",
)
def repetition_quality(spark, sf_dir):
    """Gopher-style repetition filters — duplicate-token fraction and
    top-bigram share, both native expressions
    (functions/text.py:dup_token_fraction / top_bigram_fraction)."""
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select("doc_id", text.tokens("text").alias("__t"))
    return staged.select(
        "doc_id",
        F.round(text.dup_token_fraction(F.col("__t")), 6).alias(
            "dup_token_frac"
        ),
        F.round(text.top_bigram_fraction(F.col("__t")), 6).alias(
            "top_bigram_frac"
        ),
    ).orderBy("doc_id")


#: synthetic PII suffix appended per doc-id class — the same expression
#: evaluated by Spark (F.expr) and DuckDB so the redactor has real
#: targets in the word-soup corpus
_PII_SUFFIX_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com now' "
    "WHEN doc_id % 3 = 1 THEN ' call 555-123-4567 or node 10.0.0.'"
    " || CAST(doc_id % 255 AS VARCHAR) ELSE '' END"
)


@query(
    "pii_redaction",
    "WITH t AS (SELECT doc_id, text || " + _PII_SUFFIX_SQL + " AS txt "
    "FROM documents) "
    "SELECT doc_id, "
    "len(regexp_extract_all(txt,"
    " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails, "
    "len(regexp_extract_all(txt,"
    " '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phones, "
    "len(regexp_extract_all(txt,"
    " '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ips, "
    "md5(regexp_replace(regexp_replace(regexp_replace(txt,"
    " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
    " '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),"
    " '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'))"
    " AS red_md5 "
    "FROM t ORDER BY doc_id",
)
def pii_redaction(spark, sf_dir):
    """PII scrubbing — emails/phones/IPv4 to typed placeholders
    (functions/text.py:redact_pii), counts + a hash of the redacted text
    value-checked against DuckDB running the SAME pattern literals
    (the patterns are deliberately restricted to the Java-regex ∩ RE2
    common subset)."""
    from idb_backend_spark.functions.text import PII_PATTERNS, redact_pii

    docs = _t(spark, sf_dir, "documents")
    # native mirror of _PII_SUFFIX_SQL (Spark's expr() rejects bare
    # CAST(... AS VARCHAR), so the suffix is built with functions here)
    did = F.col("doc_id")
    suffix = (
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit(" call 555-123-4567 or node 10.0.0."),
                (did % 255).cast("string"),
            ),
        )
        .otherwise(F.lit(""))
    )
    t = docs.select("doc_id", F.concat(F.col("text"), suffix).alias("txt"))
    counts = [
        F.regexp_count(F.col("txt"), F.lit(pat)).cast("bigint").alias(name)
        for (pat, _), name in zip(
            PII_PATTERNS.values(), ["n_emails", "n_phones", "n_ips"]
        )
    ]
    return t.select(
        "doc_id", *counts, F.md5(redact_pii("txt")).alias("red_md5")
    ).orderBy("doc_id")


# Catalog entry `deterministic_sample` retired to free a
# grading slot (catalog.py retirement rule). The md5-prefix-cut keep
# expression is the SAME kernel `mixture_sample` grades
# (a uniform sample is its single-domain case — sampling.py:126 builds
# per-domain cuts from the identical md5_cut/keep_expr primitive), and
# the operator keeps its value tests in tests/test_properties.py
# (rerun/repartition stability, fraction bounds).
