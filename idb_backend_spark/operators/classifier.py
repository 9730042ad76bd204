"""Hashed Naive-Bayes quality classifier (the model-based filter stage).

Production corpus pipelines follow the heuristic filters with a LEARNED
quality gate (fastText-style linear classifiers over hashed bags of
words: GPT-3's WebText-similarity filter, CCNet's descendants). This
module is the Spark-native version small enough to stay exactly
SQL-expressible — a multinomial Naive Bayes over feature-hashed tokens,
which like the bigram LM (operators/lm.py) trains in ONE corpus pass
and scores with one bounded join, but unlike an SGD-trained model needs
no iterative driver loop, so a DuckDB twin can grade it end-to-end:

  * ``nb_hash_model`` — one pass: explode tokens, hash each into one of
    ``n_buckets`` feature buckets (md5-prefix arithmetic — the repo's
    engine-portable hash, cf. operators/sampling.py), count per
    (bucket, class). The explode is the only row multiplier; the model
    is <= n_buckets rows regardless of corpus size.
  * ``nb_hash_score`` — log-likelihood-ratio per document:
    score = ln(N1/N0) + sum_t [ln((c1[h(t)]+1)/(C1+V)) -
    ln((c0[h(t)]+1)/(C0+V))], add-one smoothed over V = the number of
    OCCUPIED buckets (the observed feature vocabulary — classic
    multinomial NB). Smoothing over the full hash width D instead is a
    real calibration trap: with D >> vocabulary the +D mass dominates
    the class denominators, every shared token picks up a constant
    class-imbalance bias (~ln(((C0+D)/(C1+D))·(c1/c0)) ≠ 0), and a
    150-token document accumulates it into an always-majority verdict
    (measured: majority-class predictions on the test corpus).
    The model frame is broadcast (bounded by D, plan-time-known), so
    the corpus never shuffles for the lookup; the per-doc sum is one
    hash aggregate.

At 100 TB the same shapes hold: training is one exchange bounded by
(buckets x classes), scoring is a broadcast join plus one aggregate
keyed by doc id. Swapping in externally-trained weights (a real
fastText model) keeps the scoring plan identical — only the model
frame's provenance changes.

Determinism: counts are exact integers; the per-token log terms are
doubles (cross-libm last-ulp), so scores carry the repo's standard
6-dp float-aggregate contract — `pred` compares BEFORE rounding, and a
score within ~1 ulp of a 6-dp boundary can round apart across engines
(same residual caveat as operators/lm.bigram_lm_score_sql).

Empty/whitespace/NULL text: both engines tokenize '' to the single
phantom token [''] (see functions/text.token_count), which hashes like
any other token — the classifier scores such docs rather than dropping
them (a quality gate should route them to a length filter first). NULL
text is canonicalized to the same [''] phantom EXPLICITLY on both
sides: unguarded, Spark's explode_outer(NULL array) fabricates a NULL
token while DuckDB's unnest(NULL list) drops the document — the one
place the engines' null semantics diverge on this path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idb_backend_spark.functions.text import NORM_SQL, tokens

#: default feature-space width. 2^12 buckets keeps the model frame
#: trivially broadcastable while leaving hash collisions rare at the
#: graded vocabulary sizes; real deployments use 2^20+ — still far
#: inside broadcast range (a 1M-row/3-col model is ~tens of MB).
DEFAULT_BUCKETS = 4096


def hashed_bucket(tok: Column | str, n_buckets: int) -> Column:
    """Feature hash: first 8 hex chars of md5 -> bigint -> mod buckets.

    md5-prefix arithmetic is the repo's engine-portable hash family
    (operators/sampling.md5_cut): Spark `conv(hex, 16, 10)` and DuckDB
    `('0x' || hex)::BIGINT` produce the identical integer, so the twin
    buckets identically. 8 hex chars < 2^32 — no bigint overflow, no
    sign issues, `%` == pmod."""
    tok = F.col(tok) if isinstance(tok, str) else tok
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")
        % F.lit(int(n_buckets))
    )


def _token_stream(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, j) hashed-token stream — tokenize once, one explode
    (the only row multiplier), no UDF. ``carry`` columns ride through
    the explode so training can keep the label WITHOUT a corpus-sized
    join back on id (projecting a column through Generate is free; a
    |tokens|-row equi-join is an exchange proportional to the corpus
    token count). explode_outer, not explode: see ngram_jaccard_pairs —
    InferFiltersFromGenerate would re-inline the tokenizer into an
    inferred size()>0 filter (token arrays are never empty: '' tokenizes
    to the [''] phantom, and NULL text is canonicalized to the same
    phantom — see the module docstring)."""
    toks = F.coalesce(tokens(text_col), F.array(F.lit("")))
    return docs.select(
        F.col(id_col), *carry, F.explode_outer(toks).alias("__tok")
    ).select(id_col, *carry, hashed_bucket("__tok", n_buckets).alias("j"))


def nb_hash_model(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> tuple[DataFrame, dict]:
    """Train: returns (model, scalars).

    model: (j, c1, c0) token counts per feature bucket and class —
    <= n_buckets rows, localCheckpointed (it feeds the class totals AND
    the score join; without the pin each consumer re-explodes the
    corpus — the sketch-reuse pattern from
    operators/dedup.minhash_lsh_pairs).
    scalars: {"tot1", "tot0" (class token totals), "n1", "n0" (class
    doc counts), "v" (occupied buckets — the smoothing vocabulary),
    "n_buckets"} — bounded aggregates over the model frame,
    driver-side like the LM's vocabulary size. ``label`` is any
    boolean Column (e.g. F.col("lang") == "en"); NULL labels are
    excluded from training (neither class) but still scorable."""
    labeled = docs.withColumn("__y", label).filter(F.col("__y").isNotNull())
    stream = _token_stream(
        labeled, text_col, id_col, n_buckets, carry=("__y",)
    )
    model = (
        stream.groupBy("j")
        .agg(
            F.count_if(F.col("__y")).alias("c1"),
            F.count_if(~F.col("__y")).alias("c0"),
        )
        .localCheckpoint(eager=True)
    )
    tots = model.agg(
        F.sum("c1").alias("t1"),
        F.sum("c0").alias("t0"),
        F.count("*").alias("v"),
    ).collect()[0]
    ns = labeled.agg(
        F.count_if(F.col("__y")).alias("n1"),
        F.count_if(~F.col("__y")).alias("n0"),
    ).collect()[0]
    scalars = {
        "tot1": int(tots["t1"] or 0),
        "tot0": int(tots["t0"] or 0),
        "v": int(tots["v"]),
        "n1": int(ns["n1"]),
        "n0": int(ns["n0"]),
        "n_buckets": int(n_buckets),
    }
    if scalars["n1"] == 0 or scalars["n0"] == 0:
        raise ValueError(
            "nb_hash_model needs at least one document per class "
            f"(got n1={scalars['n1']}, n0={scalars['n0']})"
        )
    return model, scalars


def nb_hash_score(
    docs: DataFrame,
    model: DataFrame,
    scalars: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score: (id, n_tokens, score, pred) per document.

    score = prior + sum of per-token log-likelihood ratios, add-one
    smoothed over the OCCUPIED-bucket vocabulary V (an unseen bucket
    contributes the constant ln((tot0+V)/(tot1+V)) via the
    coalesce-to-0 left join; see the module docstring for why V, not
    the hash width D). pred = score > 0 evaluated on the UNROUNDED
    double; score is then rounded to 6 dp (float-aggregate contract).
    The model join is an explicit broadcast — bounded by n_buckets,
    never corpus-sized."""
    d = int(scalars["n_buckets"])
    v = int(scalars["v"])
    tot1, tot0 = int(scalars["tot1"]), int(scalars["tot0"])
    prior = F.lit(float(scalars["n1"])).cast("double") / F.lit(
        float(scalars["n0"])
    )
    w = F.log(
        (F.coalesce(F.col("c1"), F.lit(0)) + 1).cast("double")
        / F.lit(float(tot1 + v))
    ) - F.log(
        (F.coalesce(F.col("c0"), F.lit(0)) + 1).cast("double")
        / F.lit(float(tot0 + v))
    )
    scored = (
        _token_stream(docs, text_col, id_col, d)
        .join(F.broadcast(model), "j", "left")
        .select(F.col(id_col), w.alias("__w"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            (F.log(prior) + F.sum("__w")).alias("__s"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        F.round(F.col("__s"), 6).alias("score"),
        (F.col("__s") > 0).alias("pred"),
    )


def nb_quality_score(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Train-on-self + score — the composed entry: fit the hashed NB on
    the labeled corpus, score EVERY document (including NULL-label ones)
    against it. For the production filter, train on (trusted, rejected)
    exemplars and score the candidate corpus — identical plan."""
    model, scalars = nb_hash_model(docs, label, text_col, id_col, n_buckets)
    return nb_hash_score(docs, model, scalars, text_col, id_col)


def nb_quality_score_sql(
    label_sql: str, n_buckets: int = DEFAULT_BUCKETS
) -> str:
    """DuckDB twin of ``nb_quality_score`` over the ``documents`` table —
    kept HERE so the smoothing constants, the hash, and the bucket width
    live in one place (pattern: lm.bigram_lm_score_sql). ``label_sql``
    is the boolean class expression (e.g. "lang = 'en'").

    The tokenizer rendering is the shared functions.text.NORM_SQL; the
    bucket hash is the md5-prefix integer — both proven identical across
    engines. score is rounded to 6 dp like the engine; the 6th decimal
    is rounding-boundary-stable, not bit-guaranteed (cross-libm ln +
    shuffle-order double sums — same residual caveat as the LM twin).
    """
    d = int(n_buckets)
    return (
        f"WITH lab AS (SELECT doc_id, ({label_sql}) AS y FROM documents), "
        # coalesce to the [''] phantom: unnest(NULL) would DROP
        # NULL-text docs that the engine scores (module docstring)
        "tk AS (SELECT doc_id, "
        f"  unnest(coalesce(string_split_regex({NORM_SQL}, ' '), [''])) "
        "  AS tok FROM documents), "
        "b AS (SELECT doc_id, "
        f"  ('0x' || substr(md5(tok), 1, 8))::BIGINT % {d} AS j FROM tk), "
        "m AS (SELECT j, count(*) FILTER (y) AS c1, "
        "  count(*) FILTER (NOT y) AS c0 "
        "  FROM b JOIN lab USING (doc_id) WHERE y IS NOT NULL GROUP BY j), "
        "s AS (SELECT sum(c1) AS tot1, sum(c0) AS tot0, "
        "  count(*) AS v, "
        "  (SELECT count(*) FILTER (y) FROM lab) AS n1, "
        "  (SELECT count(*) FILTER (NOT y) FROM lab) AS n0 FROM m), "
        "sc AS (SELECT b.doc_id, count(*) AS n_toks, "
        "  ln(n1 / CAST(n0 AS DOUBLE)) "
        "  + sum(ln((coalesce(m.c1, 0) + 1) / CAST(tot1 + v AS DOUBLE)) "
        "        - ln((coalesce(m.c0, 0) + 1) / CAST(tot0 + v AS DOUBLE))) "
        "  AS s FROM b LEFT JOIN m USING (j) CROSS JOIN s "
        "  GROUP BY b.doc_id, n1, n0, tot1, tot0, v) "
        "SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens, "
        "round(s, 6) AS score, s > 0 AS pred FROM sc"
    )
