"""Corpus-pipeline operator tiers that were implemented, unit-tested and
twin-SQL-parity-proven before they had a catalog slot. Each entry here
drives its operator end-to-end under the oracle gate:

* ``cms_heavy_hitters`` — T34: EXACT heavy hitters behind a Count-Min
  prefilter. The oracle is plain GROUP BY ... HAVING because the CMS
  pass is a physical rewrite with a zero-false-negative guarantee
  (est >= true always), not an approximation — a green row proves that
  guarantee key-for-key on a real skewed column.
* ``cap_per_domain`` — T31's gate: the hard max-docs-per-host ceiling,
  computed with the salted two-level rank (no single hot-domain window
  task); the oracle states the single-window semantics the rewrite must
  equal. Fully integer/string deterministic — no float caveat.
* ``remove_repeated_spans`` — T32: substring-level span dedup (the
  within-corpus boilerplate the document tiers cannot touch), canonical
  first occurrence protected; string/integer exact.
* ``neardup_index_probe`` — T33 end-to-end: bootstrap the persistent
  MinHash/LSH index on half the corpus, ADD the other half in a second
  batch, COMPACT the fragmented rows, exact-verify-probe a held-out
  batch, then drive the STREAMING GATE through a crash-replay —
  build, add, compact, probe, and gate all inside one graded path.
  The oracle is the true cross-pair shingle-Jaccard set (equality also
  certifies total LSH recall at the graded scale — the containment
  contract minhash_exact_verified proves for the in-frame tier) plus
  the golden end-state of the gate's accepted store (copy counts +
  content hashes through the store-first crash-window replay).
* ``nb_quality_score`` — T30: hashed multinomial Naive Bayes
  quality-classifier, train-on-self + score-every-doc.
* ``bigram_lm_score`` — T28: the perplexity-filter stage (bigram LM,
  add-one smoothing), train-on-self + score.
* ``epoch_shuffle`` — deterministic per-epoch permutation (one range
  exchange, plan-asserted in tests/test_plan_properties.py); the graded
  md5 key column proves the permutation value-for-value.
* ``sketch_audits`` — T29's audit half, FOLDED into one slot: HLL++ distinct
  and Greenwald-Khanna quantile sketches certified against their exact twins
  in the same aggregate; the oracle pins the exact values and the
  always-TRUE within-bound contract, so the slot fails iff a sketch ever
  leaves its advertised error bound.
* ``perceptual_neardup`` — T35's first oracle:
  planted byte-identical blobs through image_phash and the shared
  pigeonhole Hamming kernel at radius 0, graded against the
  blob-equality pair set.

Scale notes are on each operator (operators/sketches.py, sampling.py,
dedup.py, neardup_index.py, classifier.py, lm.py): nothing here
all-pairs, every collect is bounded, the skew-prone shapes (heavy
hitters, domain caps) are exactly the ones rewritten to avoid hot-key
stragglers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from idb_backend_spark.operators import classifier, lm, sampling, sketches
from idb_backend_spark.operators.dedup import remove_repeated_spans as _rrs
from idb_backend_spark.operators.dedup import remove_repeated_spans_sql
from idb_backend_spark.plans.registry import _t, _t_spread, query, staging_dir


# --- T34: exact heavy hitters behind the CMS prefilter ------------------

_HH_THRESHOLD = 45  # sf0.01: 16 heavy of 2000 part keys — a real minority


@query(
    "cms_heavy_hitters",
    sketches.heavy_hitters_sql("lineitem", "l_partkey", _HH_THRESHOLD),
)
def cms_heavy_hitters_q(spark, sf_dir):
    """T34 — heavy keys of a skewed fact column without shuffling the
    distinct-key space: CMS counters (one bounded exchange), map-side
    candidate drop behind broadcast counter joins (zero false negatives
    because est >= true by construction), exact recount of survivors.
    The oracle is the plain GROUP BY ... HAVING the rewrite must equal."""
    li = _t(spark, sf_dir, "lineitem")
    return sketches.cms_heavy_hitters(
        li, "l_partkey", _HH_THRESHOLD
    ).orderBy("l_partkey")


# --- T31 gate: hard per-domain cap --------------------------------------


@query(
    "cap_per_domain",
    "SELECT doc_id, source FROM ("
    + sampling.cap_per_domain_sql("documents", "source", "doc_id", 7)
    + ") ORDER BY doc_id",
)
def cap_per_domain_q(spark, sf_dir):
    """T31 — keep at most 7 docs per source domain, chosen by global
    md5(key) priority (rerun/repartition stable). The engine plan is the
    salted two-level rank — no single straggler task per hot domain —
    proven equal to the oracle's single-window semantics."""
    docs = _t(spark, sf_dir, "documents")
    return (
        sampling.cap_per_domain(docs, "source", "doc_id", 7)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# --- T32: substring-level span dedup ------------------------------------


@query(
    "remove_repeated_spans",
    "SELECT * FROM ("
    + remove_repeated_spans_sql("documents", "text", "doc_id", 8)
    + ") ORDER BY doc_id",
)
def remove_repeated_spans_q(spark, sf_dir):
    """T32 — strip corpus-wide repeated 8-token spans from every
    document, protecting the global first occurrence (suffix-array-style
    substring dedup, windowed for a distributed engine); every doc comes
    back (clean_text, n_removed), fully string/integer exact."""
    docs = _t_spread(spark, sf_dir, "documents", "doc_id", by_range=True)
    return _rrs(docs, "text", "doc_id", window=8).orderBy("doc_id")


# --- T33: persistent near-dup index, full maintenance loop --------------

#: the streaming gate leg's novel documents — a shingle alphabet disjoint
#: from the documents corpus, so their accept decision is deterministic
#: by construction (zero shared shingles -> zero estimate; the re-keyed
#: byte-identical copies in the same batch have estimate 1.0 -> dropped).
#: The FIRST novel is pre-seeded into the accepted store before the gate
#: runs, reproducing the crash window (stored, not indexed): its
#: at-least-once replay re-accepts it, so the raw store ends with TWO
#: byte-identical copies of it and one of each other novel — the copy
#: counts the oracle states as goldens.
_GATE_NOVELS = [
    (2000001, "qz1a qz1b qz1c qz1d qz1e qz1f"),
    (2000002, "qz2a qz2b qz2c qz2d qz2e qz2f"),
    (2000003, "qz3a qz3b qz3c qz3d qz3e qz3f"),
    (2000004, "qz4a qz4b qz4c qz4d qz4e qz4f"),
]


def _neardup_oracle() -> str:
    # probe section: the TRUE cross-pair shingle-Jaccard set between
    # batch (doc_id%10=0) and corpus (rest); engine == oracle also
    # certifies total LSH recall at this scale. gate section: golden
    # end-state of the gate's accepted store — (id, raw copy count,
    # content md5) per accepted doc; the dropped copies are asserted by
    # their ABSENCE from the golden list.
    from idb_backend_spark.operators import neardup_index as ni

    probe = ni.probe_neardup_exact_sql(
        "documents",
        "text",
        "doc_id",
        "doc_id % 10 = 0",
        "doc_id % 10 <> 0",
        shingle_k=3,
        threshold=0.5,
    )
    gate_vals = ", ".join(
        f"({i}, {2 if pos == 0 else 1}, '{t}')"
        for pos, (i, t) in enumerate(_GATE_NOVELS)
    )
    return (
        f"WITH probe AS ({probe}) "
        "SELECT 'probe' AS kind, new_id AS id_a, corpus_id AS id_b, "
        "jaccard, CAST(NULL AS VARCHAR) AS content FROM probe "
        "UNION ALL "
        "SELECT 'gate', g.id, g.n, CAST(NULL AS DOUBLE), md5(g.txt) "
        f"FROM (VALUES {gate_vals}) AS g(id, n, txt) "
        "ORDER BY kind, id_a, id_b"
    )


@query("neardup_index_probe", _neardup_oracle())
def neardup_index_probe_q(spark, sf_dir):
    """T33 end-to-end — the maintenance tier's whole life cycle inside
    one graded path: BUILD the index over half the corpus, ADD the other
    half (the O(batch) steady-state append), COMPACT the fragmented rows
    (range-clustered rewrite + atomic swap; single-writer guard),
    exact-verify PROBE a held-out batch against it, then run the
    STREAMING GATE (streaming/incremental.neardup_gate_batch — the
    foreachBatch composition) against the compacted index THROUGH A
    CRASH-REPLAY: the first novel doc is pre-written to the accepted
    store (the exact crash-window state — stored, not yet indexed), the
    gate batch mixes re-keyed byte-identical copies (estimate 1.0 ->
    dropped) with shingle-disjoint novels (-> accepted), and the same
    batch runs TWICE (at-least-once replay; the replay-guard second pass
    must change nothing). The graded rows carry both legs: the true
    probe pair set AND the accepted store's raw end state (id, copy
    count, content md5) — two copies of the crash-window doc
    (store-first recovery re-accepts it), one of each other novel, the
    dropped copies absent. A green row proves the add blended nothing,
    the compaction dropped nothing, the banded-MinHash probe recalled
    every true pair at the graded scale, and the gate's store-first
    crash contract converges. Reference analog: none in idb-backend
    (etag-exact dedup only, postgres_backend/db.py) — this is the
    training-pipeline tier."""
    from idb_backend_spark.operators import neardup_index as ni
    from idb_backend_spark.streaming import incremental as inc

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    idx = staging_dir("ndidx_grade_") + "/idx"
    ni.build_neardup_index(
        corpus.filter(F.col("doc_id") % 2 == 1), "text", "doc_id", idx
    )
    ni.add_to_neardup_index(
        corpus.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", idx
    )
    ni.compact_neardup_index(spark, idx)
    probe = ni.probe_neardup_index(
        batch,
        "text",
        "doc_id",
        idx,
        threshold=0.5,
        verify="exact",
        corpus=corpus,
    )
    # pin the probe BEFORE the gate leg appends to the index — the pair
    # set is the pre-gate index's answer, not a race with the mutation
    pairs = probe.select(
        F.lit("probe").alias("kind"),
        F.col("new_id").alias("id_a"),
        F.col("corpus_id").alias("id_b"),
        "jaccard",
        F.lit(None).cast("string").alias("content"),
    ).localCheckpoint(eager=True)

    # gate leg: crash window first (stored, NOT indexed), then the
    # at-least-once replay of the full batch, then a pure replay
    acc = staging_dir("ndacc_grade_") + "/accepted"
    novels = spark.createDataFrame(_GATE_NOVELS, "doc_id long, text string")
    copies = corpus.filter(F.col("doc_id").isin(1, 2, 3, 4)).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    gate_batch = novels.unionByName(copies)
    novels.filter(F.col("doc_id") == _GATE_NOVELS[0][0]).write.mode(
        "append"
    ).parquet(acc)
    inc.neardup_gate_batch(gate_batch, idx, acc)  # replay converges
    inc.neardup_gate_batch(gate_batch, idx, acc)  # replay-guard no-op
    gate_state = (
        spark.read.parquet(acc)
        .groupBy("doc_id", "text")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("gate").alias("kind"),
            F.col("doc_id").alias("id_a"),
            F.col("n").alias("id_b"),
            F.lit(None).cast("double").alias("jaccard"),
            F.md5(F.encode("text", "utf-8")).alias("content"),
        )
    )
    return pairs.unionByName(gate_state).orderBy("kind", "id_a", "id_b")


# --- T30: hashed-NB quality classifier -----------------------------------

_NB_SQL = classifier.nb_quality_score_sql("lang = 'en'")


@query(
    "nb_quality_score",
    f"SELECT * FROM ({_NB_SQL}) ORDER BY doc_id",
)
def nb_quality_score_q(spark, sf_dir):
    """T30 — the model-based quality-filter stage: hashed multinomial
    Naive Bayes (one training aggregate + broadcast-model scoring),
    trained on lang=='en' as the positive class and scoring EVERY doc.
    Integer counts and the pred boolean are exact; score carries the
    repo's 6-dp float contract."""
    docs = _t_spread(spark, sf_dir, "documents", "doc_id", by_range=True)
    return classifier.nb_quality_score(
        docs, F.col("lang") == "en"
    ).orderBy("doc_id")


# --- T28: bigram-LM fluency scoring --------------------------------------


@query(
    "bigram_lm_score",
    f"SELECT * FROM ({lm.bigram_lm_score_sql()}) ORDER BY doc_id",
)
def bigram_lm_score_q(spark, sf_dir):
    """T28 — the perplexity-filter stage (CCNet's KenLM gate, scaled
    down to an exactly-SQL-expressible bigram model with add-one
    smoothing): train on the corpus in one pass, score every document's
    average bigram log-probability. n_bigrams exact; avg_logp 6-dp."""
    docs = _t_spread(spark, sf_dir, "documents", "doc_id", by_range=True)
    return lm.bigram_lm_score(docs).orderBy("doc_id")


# --- epoch shuffle: deterministic training-order permutation --------------

_EPOCH = 3


@query(
    "epoch_shuffle",
    "SELECT doc_id, md5(concat_ws(':', CAST(doc_id AS VARCHAR), "
    f"'{_EPOCH}')) AS shuffle_key FROM documents "
    "ORDER BY shuffle_key, doc_id",
)
def epoch_shuffle_q(spark, sf_dir):
    """Deterministic epoch shuffle — each training epoch's permutation
    is a pure md5 function of the row key (reproducible across reruns,
    partitionings, and engines, unlike orderBy(rand(seed))); ONE range
    exchange, plan-asserted in tests/test_plan_properties.py. The graded
    key column proves the permutation value-for-value."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return sampling.epoch_shuffle(docs, "doc_id", _EPOCH).select(
        "doc_id",
        sampling.epoch_shuffle_key("doc_id", _EPOCH).alias("shuffle_key"),
    )


# --- T35: perceptual near-dup, graded on the deterministic-fake path -----


@query(
    "perceptual_neardup",
    # the expected pair set: rows whose synthesized blobs are
    # byte-identical (same concat_ws key; concat_ws skips NULL in both
    # engines) — at Hamming radius 0 the perceptual tier must emit
    # EXACTLY these pairs, nothing else
    "WITH b AS (SELECT doc_id, "
    "  concat_ws(':', lang, CAST(doc_id % 50 AS VARCHAR)) AS key "
    "  FROM documents) "
    "SELECT a.doc_id AS id_a, c.doc_id AS id_b, CAST(0 AS INT) AS hamming "
    "FROM b a JOIN b c ON a.key = c.key AND a.doc_id < c.doc_id "
    "ORDER BY id_a, id_b",
)
def perceptual_neardup_q(spark, sf_dir):
    """T35 — the perceptual image-dedup tier end-to-end on the
    deterministic fake-decoder path: synthesize binary blobs with
    PLANTED exact duplicates (key-derived bytes; ~2 docs share each
    (lang, id%50) key), run image_phash -> dHash -> the shared
    pigeonhole Hamming kernel (operators/dedup.hamming_pairs) at radius
    0. Identical bytes MUST collide at Hamming 0 (sha1 pixel grids are
    a pure function of the bytes) and different bytes must not, so the
    oracle is the blob-equality pair set — grading the mapInPandas
    plumbing, the bit math, the bucketed self-join, and the
    no-false-pair property. Hamming radii > 0 need real pixels
    (PIL-gated; near-dup SEMANTICS documented as requiring the real
    decoder — unit goldens in tests/test_multimodal.py); the audio
    sibling shares the same bit math and Hamming kernel and keeps its
    real-WAV unit proofs."""
    from idb_backend_spark.functions.multimodal import image_neardup_pairs

    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id",
        F.encode(
            F.concat_ws(
                ":", F.col("lang"), (F.col("doc_id") % 50).cast("string")
            ),
            "UTF-8",
        ).alias("content"),
    )
    return image_neardup_pairs(
        blobs, "content", "doc_id", max_hamming=0, hash_kind="dhash",
        fake=True,
    ).orderBy("id_a", "id_b")


# --- T29 audits, folded: HLL distinct + GK quantiles in one slot ----------

_QPROBS = [0.25, 0.5, 0.75, 0.9]


def _sketch_audits_oracle() -> str:
    """One slot for both audit contracts: exact
    values + the always-TRUE within-bound booleans; the slot fails iff
    either sketch ever leaves its advertised bound. Composed FROM the
    per-audit twin builders so the contracts stay defined in one place
    (operators/sketches.py)."""
    hll = sketches.hll_distinct_audit_sql(
        "lineitem", "l_returnflag", "l_orderkey"
    )
    gk = sketches.quantile_audit_sql("lineitem", "l_extendedprice", _QPROBS)
    return (
        f"SELECT 'hll' AS audit, CAST(l_returnflag AS VARCHAR) AS k, "
        "round(CAST(exact_distinct AS DOUBLE), 6) AS exact_v, within_tol "
        f"FROM ({hll}) "
        "UNION ALL "
        "SELECT 'gk' AS audit, "
        "'p' || CAST(CAST(round(p * 100) AS INT) AS VARCHAR) AS k, "
        f"exact_q AS exact_v, within_tol FROM ({gk}) "
        "ORDER BY audit, k"
    )


@query("sketch_audits", _sketch_audits_oracle())
def sketch_audits_q(spark, sf_dir):
    """T29 — certify the approximate aggregates a 100 TB deployment
    actually runs (HLL++ count-distinct, GK quantiles) against their
    exact twins, both measures riding ONE exchange per audit. The graded
    columns are the exact values plus the within-bound booleans — never
    the raw estimates, which are implementation-defined (the same
    contract-grading as minhash_exact_verified's recall booleans)."""
    li = _t(spark, sf_dir, "lineitem")
    hll = sketches.hll_distinct_audit(li, "l_returnflag", "l_orderkey").select(
        F.lit("hll").alias("audit"),
        F.col("l_returnflag").cast("string").alias("k"),
        F.round(F.col("exact_distinct").cast("double"), 6).alias("exact_v"),
        "within_tol",
    )
    gk = sketches.quantile_audit(li, "l_extendedprice", _QPROBS).select(
        F.lit("gk").alias("audit"),
        F.concat(
            F.lit("p"),
            F.round(F.col("p") * 100).cast("int").cast("string"),
        ).alias("k"),
        F.col("exact_q").alias("exact_v"),
        "within_tol",
    )
    return hll.unionByName(gk).orderBy("audit", "k")
