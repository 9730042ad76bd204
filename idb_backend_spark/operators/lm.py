"""Bigram language-model quality scoring (the perplexity-filter stage).

Large-scale corpus pipelines gate documents on LM perplexity (CCNet's
KenLM filter and its descendants): train a small n-gram model on a
trusted corpus, score every candidate document, keep the fluent band.
This module is the Spark-native version with a bigram model and add-one
smoothing — small enough to stay exactly SQL-expressible (a DuckDB twin
grades it), structured like the real thing:

  * ``bigram_model`` — ONE pass over the corpus: explode token bigrams,
    count (a, b) and context totals c(a), measure the vocabulary V. The
    explode is the only row multiplier; both counts are hash aggregates
    with map-side partial combine.
  * ``bigram_logprob_score`` — score = avg over a doc's bigrams of
    log((c(a,b) + 1) / (c(a) + V)). One join of the exploded bigram
    stream against the model, then a per-doc average. Catalyst/AQE
    broadcasts the model when it fits (runtime size check — the model is
    an aggregate, so plan-time stats don't exist); a 100 TB corpus'
    full bigram table outgrows broadcast and the join degrades
    gracefully to shuffle — the same shape either way. (Production
    KenLM-style scoring does this lookup map-side against an immutable
    binary model; mapInPandas + a broadcast file is the escape hatch
    when the model fits RAM but not a broadcast relation.)

Determinism: counts and V are exact integers; the per-bigram logs are
doubles (cross-libm: Spark's Math.log vs DuckDB's libm can differ in the
last ulp), so consumers hashing scores must round — the repo's standard
6-dp float-aggregate contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idb_backend_spark.functions.text import NORM_SQL, TOKS_SQL, tokens


#: adjacent token pairs of the staged token array `__lm_t` as
#: array<struct<a,b>>. The size guard is load-bearing twice over: a <2
#: token doc has no bigrams, AND Spark's sequence(1, 0) yields the
#: DESCENDING [1, 0] (not an empty array), which would fabricate a
#: null-padded pair per short doc. Empty/whitespace text tokenizes to
#: [''] (size 1 — the token_count phantom), so it is covered by the
#: same guard.
_PAIRS_EXPR = (
    "CASE WHEN size(__lm_t) < 2 "
    "THEN CAST(array() AS array<struct<a string, b string>>) "
    "ELSE transform(sequence(1, size(__lm_t) - 1), "
    "i -> struct(__lm_t[i-1] AS a, __lm_t[i] AS b)) END"
)


def _exploded(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, a, b) bigram stream — tokenize once, one explode (the only
    row multiplier), no UDF."""
    staged = docs.withColumn("__lm_t", tokens(text_col))
    return staged.select(
        F.col(id_col), F.explode(F.expr(_PAIRS_EXPR)).alias("bg")
    ).select(id_col, F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))


def bigram_model(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, int]:
    """Train: returns (bigram counts (a, b, c_ab), context totals
    (a, c_a), vocabulary size V).

    ONE corpus pass: only c_ab aggregates the exploded stream; the
    context totals are the model's own row sums (c_a = sum_b c_ab —
    exactly the count of bigrams starting at a, so the add-one
    distribution normalizes) and V is the distinct-token count over the
    model's two key columns (identical to the stream's, since every
    streamed token appears in some model key). c_ab is localCheckpointed
    — it is model-sized (unique bigrams, not corpus-sized) and is read
    by three consumers (c_a, V, the score join); without the pin each
    would re-explode the corpus (the sketch-reuse pattern from
    operators/dedup.minhash_lsh_pairs)."""
    ex = _exploded(docs, text_col, id_col)
    cab = (
        ex.groupBy("a", "b")
        .agg(F.count("*").alias("c_ab"))
        .localCheckpoint(eager=True)
    )
    ca = cab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    v = (
        cab.select(F.col("a").alias("tok"))
        .union(cab.select(F.col("b").alias("tok")))
        .distinct()
        .count()
    )
    return cab, ca, int(v)


def bigram_logprob_score(
    docs: DataFrame,
    cab: DataFrame,
    ca: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score: (id_col, n_bigrams, avg_logp) per document, add-one
    smoothed. Unseen bigram (seen context) -> 1/(c_a + V); unseen
    context -> uniform 1/V. Documents with <2 tokens have no bigrams
    and are ABSENT from the output (a quality gate should route them
    to a length filter, not pretend fluency). avg_logp is rounded to
    6 dp (float-aggregate contract)."""
    ex = _exploded(docs, text_col, id_col)
    scored = (
        ex.join(ca, "a", "left")
        .join(cab, ["a", "b"], "left")
        .select(
            F.col(id_col),
            F.log(
                (F.coalesce(F.col("c_ab"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("c_a"), F.lit(0)) + vocab_size)
            ).alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_logp"),
    )


def bigram_lm_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Train-on-self + score — the composed entry: model the corpus,
    score every document against it (the in-domain fluency baseline;
    outlier docs — boilerplate, non-text, wrong language — land in the
    tail). For the real filter, train on the trusted corpus and score
    the candidate one."""
    cab, ca, v = bigram_model(docs, text_col, id_col)
    return bigram_logprob_score(docs, cab, ca, v, text_col, id_col)


def bigram_lm_score_sql() -> str:
    """DuckDB twin of ``bigram_lm_score`` over the ``documents`` table —
    kept HERE so the smoothing constants and the bigram definition live
    in one place (pattern: quantize.quantize_sql); the tokenizer
    rendering is the shared functions.text.NORM_SQL/TOKS_SQL pair.
    Scores every doc_id with at least one bigram; avg_logp rounded to
    6 dp like the engine — note the 6th decimal is only
    rounding-boundary-stable, not bit-guaranteed (cross-libm ln + float
    avg), so a driver-gate slot for this entry carries the same residual
    boundary risk every float-aggregate oracle in the repo does.
    """
    return (
        "WITH t AS (SELECT doc_id, "
        f"  CASE WHEN {NORM_SQL} = '' THEN [] ELSE {TOKS_SQL} END AS tk "
        "  FROM documents), "
        # scalar-list generate_series + unnest: the table-function form
        # can't take a lateral column parameter in DuckDB
        "ix AS (SELECT doc_id, tk, "
        "  unnest(generate_series(1, len(tk) - 1)) AS i FROM t), "
        "bg AS (SELECT doc_id, tk[i] AS a, tk[i+1] AS b FROM ix), "
        "cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b), "
        "ca AS (SELECT a, count(*) AS c_a FROM bg GROUP BY a), "
        "v AS (SELECT count(DISTINCT tok) AS v FROM "
        "  (SELECT a AS tok FROM bg UNION SELECT b FROM bg)) "
        "SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
        "round(avg(ln((cab.c_ab + 1) / CAST(ca.c_a + v.v AS DOUBLE))), 6) "
        "AS avg_logp "
        "FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v "
        "GROUP BY bg.doc_id"
    )
