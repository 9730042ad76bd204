"""Skew mitigation: salted aggregation and salted joins.

AQE's skew-join splitting (enabled in session.py) handles most cases at
runtime; explicit salting remains the tool for *aggregations* over
pathologically hot keys (a recordset with 10^8 records while the median
has 10^4 — the reference's real data shape) and for joins where AQE
cannot act (e.g. a skewed stream side).

Pattern: two-level aggregation. Level 1 groups on (key, salt) — the hot
key's rows spread over ``n_salts`` reducers; level 2 re-aggregates the
``n_salts`` partials per key. Correct for any algebraic aggregate
(count/sum/min/max — supply the matching re-aggregator).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 16, out: str = "__salt") -> DataFrame:
    """Deterministic per-row salt (hash of all columns, not rand(), so
    retried tasks produce identical output — required for exactly-once
    sinks).

    The frame must carry at least one row-distinguishing column BESIDES
    the aggregation key: the salt is a pure function of the row's
    columns, so a frame projected down to the hot key alone hashes to
    ONE salt per key and the spread silently degenerates to a plain
    groupBy. Keep the row id (or any high-cardinality column) in the
    projection until after salting."""
    return df.withColumn(
        out, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_count(
    df: DataFrame, keys: list[str], n_salts: int = 16, out: str = "count"
) -> DataFrame:
    """groupBy(keys).count() resistant to hot keys: partial counts per
    (keys, salt), then a cheap n_salts-row-per-key final agg."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "__salt").agg(
        F.count(F.lit(1)).alias("__partial")
    )
    return partial.groupBy(*keys).agg(F.sum("__partial").alias(out))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
    n_salts: int = 16,
) -> DataFrame:
    """General two-level salted aggregation. ``partial_aggs`` run per
    (keys, salt); ``final_aggs`` must re-aggregate the partial columns
    (sum of counts, sum of sums, min of mins, ...)."""
    if not partial_aggs or not final_aggs:
        # fail with the contract, not GroupedData.agg's bare assert
        # (the degenerate-agg class of versioning.latest_per_key_agg)
        raise ValueError(
            "salted_agg requires non-empty partial_aggs and final_aggs"
        )
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def replicate_broadcast_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Salted join for a skewed probe side against a small build side:
    the small side is replicated n_salts times (explode), the skewed side
    salted — every reducer sees 1/n_salts of the hot key. With a truly
    small build side prefer plain broadcast(); this form covers the
    middle ground where the build side exceeds the broadcast threshold
    but the probe side is too skewed for a plain shuffle join."""
    salted = with_salt(skewed, n_salts)
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted.join(replicated, on=[key, "__salt"]).drop("__salt")
