"""Aggregation patterns A1-A11 (SURVEY §2.4) as DataFrame builders.

All are single-pass aggregations with map-side partial aggregation
(Spark does the partial/final split automatically); top-N orderings ride on
the agg output, which is tiny relative to the fact table. Primitive-buffer
aggs (count/sum/min/max) plan as HashAggregate; the one struct-buffer
min_by (datasets dominance pick) plans as SortAggregate but runs over an
already-collapsed rollup, never the fact table (see
versioning.latest_per_key_agg's shape note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hit_counts(df: DataFrame, pred: Column | None, key: str) -> DataFrame:
    """A1 — per-group hit counts (citation counts; ES terms agg,
    download.py:81-131), sorted count desc then key for determinism.

    Contract: ``key`` has bounded cardinality (recordsets, countries,
    basis of record — what an ES terms agg buckets), so the aggregate is
    small enough to order in ONE partition: `coalesce(1)` +
    `sortWithinPartitions` yields the same globally ordered DataFrame as
    `orderBy`, in 2 Spark jobs instead of 4 (no range exchange, no
    sampling job). An unbounded key would funnel every group through
    one task; `unique_values` keeps the range sort for that reason.
    """
    if pred is not None:
        df = df.filter(pred)
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("count"))
        .coalesce(1)
        .sortWithinPartitions(F.desc("count"), F.col(key))
    )


def unique_values(df: DataFrame, field: str) -> DataFrame:
    """A3 — unique values with counts, desc; nulls become the empty-string
    bucket — DELIBERATE reference parity, not an artifact: the scan loop
    at download.py:188-193 does ``values[""] += 1`` for missing source
    values, so the export's top row CAN be the empty-string bucket.

    Fields whose lowercased name ends with ``scientificname`` are folded
    through Python ``str.capitalize()`` BEFORE counting
    (download.py:189-190): first char uppercased, the REST lowercased —
    merging case variants ('ACER RUBRUM', 'Acer Rubrum', 'acer rubrum')
    into one bucket and changing the rendered value. Expressed JVM-side
    as upper(first)+lower(rest); identical for the ASCII names the field
    holds (Python's titlecase-first-char mapping differs only on exotic
    digraph codepoints). The null->'' bucket is NOT capitalized in the
    reference (the fold sits inside the not-None arm) — same output
    either way, since concat-on-null falls through to the coalesce."""
    from idb_backend_spark.functions.enrichment import fold_scientificname

    col = fold_scientificname(F.col(field).cast("string"), field)
    val = F.coalesce(col, F.lit("")).alias("value")
    return (
        df.select(val)
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.col("value"))
    )


def max_watermark(df: DataFrame, ts_col: str, by: list[str] | None = None) -> DataFrame:
    """A5 — incremental watermark: max(modified) [per type]
    (index_from_postgres.py:71-89)."""
    if by:
        return df.groupBy(*by).agg(F.max(ts_col).alias("watermark"))
    return df.agg(F.max(ts_col).alias("watermark"))


def collection_counts(
    df: DataFrame, parent: str, type_col: str, types: list[str]
) -> DataFrame:
    """A6 — GROUP BY parent,type pivoted to one count column per type
    (collect.py:233-247)."""
    aggs = [
        F.sum((F.col(type_col) == t).cast("long")).alias(f"{t}_count")
        for t in types
    ]
    if not aggs:
        # zero pivot types: agg() rejects an empty expression list
        # (same degenerate class as versioning.latest_per_key_agg)
        # — the pivot of nothing is just the parents
        return df.select(parent).distinct()
    return df.groupBy(parent).agg(*aggs)


def duplicate_groups(df: DataFrame, keys: list[str]) -> DataFrame:
    """A10/U4 — duplicate detection: key groups occurring more than once
    (db_check.py:270-297)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .orderBy(F.desc("n"), *keys)
    )


def majority_vote(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """A11 — most-common value per key, deterministic tie-break on value
    ascending (license vote, conversions.py:699-706)."""
    counts = df.groupBy(*keys, value_col).agg(F.count(F.lit(1)).alias("n"))
    # asc_nulls_last: Spark's bare asc puts NULL FIRST, so a null-value
    # vote group would beat any real value on ties — the SQL oracle twin
    # ('ORDER BY votes DESC, code', DuckDB NULLS LAST) elects the real
    # value, and so does the reference's Counter over present values
    w = Window.partitionBy(*keys).orderBy(
        F.desc("n"), F.asc_nulls_last(value_col)
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*keys, F.col(value_col).alias("winner"), F.col("n").alias("votes"))
    )


def paginate(
    df: DataFrame, order_col: str, limit: int = 100, offset: int = 0
) -> DataFrame:
    """O1 — ORDER BY <key> LIMIT/OFFSET listings (db.py:357-379).

    Spark has no OFFSET pushdown in DataFrame API; a global row_number over
    a single ordered partition would serialize, so for small offsets (the
    API default is limit 100) we take offset+limit rows and slice. For deep
    pagination use keyset continuation (filter key > last_seen) instead —
    that is the scalable path and what the reference's uuid-ordered listing
    enables."""
    rows = df.orderBy(order_col).limit(offset + limit)
    if offset:
        w = Window.orderBy(order_col)
        rows = (
            rows.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > offset)
            .drop("__rn")
        )
    return rows


def ordered_group_rollup(
    df: DataFrame, key: str, order_cols: list[str], value_col: str
) -> DataFrame:
    """W3 — ordered-stream group iteration (index_from_postgres.py:197-215:
    ORDER BY parent then itertools.groupby over the sorted stream).

    Spark-first inversion of the reference's sort-then-scan: one hash
    aggregation collecting (order..., value) structs per key, sorted
    *inside* each group by sort_array. No global sort, no single ordered
    partition — each group's ordering is local to its aggregation buffer,
    so the plan is a plain partial/final agg pair that scales with keys."""
    ordered = F.sort_array(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col(value_col)))
    )
    return df.groupBy(key).agg(
        F.array_join(
            F.transform(ordered, lambda s: s[value_col].cast("string")), "|"
        ).alias("ordered_values"),
        F.count(F.lit(1)).alias("n"),
    )


def keyset_page(
    df: DataFrame, order_col: str, after=None, limit: int = 100
) -> DataFrame:
    """O1 (scale path) — keyset-continuation page: rows with
    ``order_col > after`` in key order, one page worth.

    This is the deep-pagination shape `paginate` documents: the predicate
    pushes into the scan (PushedFilters on the ordering key), so page N
    costs the same as page 1 — no offset-sized prefix is ever
    materialized. ``after=None`` returns the first page. The reference's
    uuid-ordered listings (db.py:357-379) enable exactly this
    continuation: the caller passes the last key of the previous page.
    """
    page = df if after is None else df.filter(F.col(order_col) > F.lit(after))
    return page.orderBy(order_col).limit(limit)


def sessionize_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Batch sessionization — gaps-and-islands natively: per-key windows
    assign session ids where the inter-event gap exceeds ``gap_seconds``,
    then one aggregation emits (key, session_start, session_end,
    n_events) for EVERY session (the streaming twin in
    streaming/incremental.py:sessionize emits only closed ones).

    Plan shape: a single hash-partitioned exchange on the key feeds both
    window functions AND the final aggregation (same partitioning), so
    the whole operator costs one shuffle regardless of history length.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    # EXACT integer-microsecond gap compare: a double-cast epoch diff
    # carries ~1e-7 s rounding at epoch ~1.7e9, which can flip a gap of
    # exactly `gap_seconds` across the boundary and diverge from both
    # the SQL oracle's INTERVAL comparison and the streaming twin's
    # integer micros (streaming/incremental.py sessionize)
    new_s = F.when(
        prev.isNull()
        | (
            F.timestamp_diff("MICROSECOND", prev, F.col(ts_col))
            > int(gap_seconds) * 1_000_000
        ),
        1,
    ).otherwise(0)
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(F.col(key_col), F.col(ts_col), sid.alias("__sid"))
        .groupBy(key_col, "__sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("__sid")
    )


def usage_stats_rollup(
    df: DataFrame,
    group_cols: list[str],
    stats_type_col: str = "stats_type",
    term_col: str = "term",
    query_hash_col: str = "query_hash",
    geocode_col: str = "geocode",
    record_count_col: str = "record_count",
) -> DataFrame:
    """A7's full three-branch accumulation (collect_stats,
    collect.py:132-166) over EXPLODED stats rows (one row per payload
    entry — the relational rendering of the reference's
    ``for key in r["payload"]`` loops).

    Branch semantics, kept exactly:

    * ``view``  — count +1, total +1 per entry; items[term] +1;
      geocodes[geo] +1; NO queries map.
    * ``seen``  — like view, plus queries[query_hash] +1.
    * anything else (``search``) — the payload direction flips: the
      entry IS (recordset, record_count); count +1 per entry, total +=
      record_count, queries[query_hash] += record_count, geocodes[geo]
      += record_count; NO items map.

    ``geocode`` must arrive pre-canonicalized (the reference keys the
    dict on ``json.dumps(ip_geocode, sort_keys=True)``,
    collect.py:136 — pass ``F.to_json`` of a struct, whose field order
    is fixed by the schema, or a canonical string).

    Shape (ONE pass over the fact table): one
    kv-unpivot + two grouped aggs (fine per-key sums, then map assembly).
    The per-group ``count``/``total`` scalars ride the SAME cascade as
    two synthetic dims with a constant key (``__count`` w=1, ``__total``
    w=geo_w) — the previous shape computed them in a second groupBy over
    a SECOND full scan of ``df`` and joined it back, so the fact table
    was read twice at scale for two long columns. Every row emits a
    ``__count`` entry, so every group the old totals leg produced still
    appears (the old join was totals-LEFT-maps for exactly that reason).
    Every shuffle is on the group key and the output is bounded by
    (recordsets x types), not by traffic. sf0.1 A/B: identical 90 rows,
    wall neutral locally (the scan is 2 MB here); the win is the
    dropped second scan + join.

    Output-type note: a group whose term/query_hash/
    geocode are NULL in every row yields EMPTY maps ``{}`` where the
    old totals-LEFT-join shape produced NULL maps. The one call site
    string-renders through a coalesce that absorbs the difference (and
    ``{}`` is closer to the reference's empty dicts), but a future
    caller comparing maps against NULL must account for it.
    """
    st = F.col(stats_type_col)
    is_view = st == "view"
    is_seen = st == "seen"
    is_vs = is_view | is_seen
    lnull = F.lit(None).cast("long")

    item_w = F.when(is_vs, F.lit(1)).otherwise(lnull)
    query_w = (
        F.when(is_seen, F.lit(1))
        .when(is_view, lnull)
        .otherwise(F.col(record_count_col))
    )
    geo_w = F.when(is_vs, F.lit(1)).otherwise(F.col(record_count_col))

    def dim(name, key, w):
        return F.struct(
            F.lit(name).alias("dim"),
            key.cast("string").alias("key"),
            w.cast("long").alias("w"),
        )

    kv = (
        df.select(
            *group_cols,
            F.explode(
                F.array(
                    dim("items", F.col(term_col), item_w),
                    dim("queries", F.col(query_hash_col), query_w),
                    dim("geocodes", F.col(geocode_col), geo_w),
                    # totals as synthetic dims: constant non-null key so
                    # the kv filter keeps them; __total's null-skipping
                    # sum matches the old F.sum over record_count
                    dim("__count", F.lit(""), F.lit(1)),
                    dim("__total", F.lit(""), geo_w),
                )
            ).alias("e"),
        )
        .select(*group_cols, "e.dim", "e.key", "e.w")
        .filter(F.col("w").isNotNull() & F.col("key").isNotNull())
    )
    fine = kv.groupBy(*group_cols, "dim", "key").agg(
        F.sum("w").alias("n")
    )

    def map_for(name):
        entry = F.when(
            F.col("dim") == name, F.struct(F.col("key"), F.col("n"))
        )
        return F.map_from_entries(
            F.sort_array(F.collect_list(entry))
        ).alias(name)

    out = fine.groupBy(*group_cols).agg(
        # one fine row per group for each synthetic dim — max() is just
        # "the value"; long type preserved
        F.max(F.when(F.col("dim") == "__count", F.col("n"))).alias("count"),
        F.max(F.when(F.col("dim") == "__total", F.col("n"))).alias("total"),
        map_for("items"),
        map_for("queries"),
        map_for("geocodes"),
    )
    return out.select(
        *group_cols, "count", "total", "items", "queries", "geocodes"
    )


def true_ic(ic: Column) -> Column:
    """generate_static_datasets_index.get_true_ic (idigbio_workers/
    generate_static_datasets_index.py:25-35): a trailing parenthesized
    ALPHA-ONLY code wins (regex ``^.*\\(([a-zA-Z]+)\\)$`` — digits in the
    parens fail the match and the WHOLE string falls through), then
    ``.lower().strip()`` applies to whichever value survived. The
    ic_replacement_table is empty in the reference (:24) — a no-op kept
    out of the engine."""
    code = F.regexp_extract(ic, r"^.*\(([a-zA-Z]+)\)$", 1)
    from idb_backend_spark.functions.grabbers import py_strip

    # get_true_ic's v.lower().strip() — full whitespace class
    return F.lower(py_strip(F.when(code != "", code).otherwise(ic)))


def dominant_collection_codes(
    df: DataFrame, rs_col: str, ic_col: str, cc_col: str
) -> DataFrame:
    """The per-recordset institution/collection-code assignment feeding
    the static datasets index (generate_static_datasets_index.py:74-100,
    the ES ``rs > ic > cc`` terms-agg consumer).

    Rules, pinned exactly:

    * ic buckets count docs WHERE the field is present (terms aggs skip
      missing); the DOMINANCE DENOMINATOR is the recordset's TOTAL doc
      count (``rs_b["doc_count"]``, :83) — missing-ic docs dilute the
      ratio, so 90% of the non-null ics can still fail the gate.
    * 0 buckets -> ic '' / cc '' (:79-81).
    * exactly 1 bucket OR top-bucket/total STRICTLY > 0.9 (:82-84) ->
      ic = true_ic(top key); note the OR: a single bucket wins at ANY
      share (2 tagged docs among 25 suffice).
    * else ic = cc = 'MULTIPLE' (:93-96).
    * cc comes from the top-IC bucket's cc sub-buckets by COUNT of
      buckets alone (no dominance): 0 -> '', exactly 1 -> the key
      VERBATIM (never true_ic-folded, :87-92 — case survives), else
      'MULTIPLE'.
    * top bucket order = count desc then key asc (the ES terms-agg
      default the reference consumes).
    * the reference's aggs truncate at size=1000 buckets (:44-60);
      the engine computes exact counts — documented divergence (a
      truncated agg UNDERCOUNTS, the exact one cannot).

    Scale: ONE scan, THREE exchanges, ZERO joins. The input aggregates
    once at the finest (rs, ic, cc) grain (map-side partial combine
    does the heavy lifting), then rolls up to (rs, ic) — carrying each
    ic's cc-bucket count and single-bucket key along — then to rs,
    where the top bucket is picked with a min_by over
    (null-ic-last, -count, key). A naive three-groupBy shape reads the
    100 TB input three times (Catalyst's diverging pushdown defeats
    exchange reuse across the branches — measured, not guessed);
    carrying the cc stats through the rollup also deletes both per-rs
    joins. Nothing collects.
    """
    rs, ic, cc = F.col(rs_col), F.col(ic_col), F.col(cc_col)
    fine = df.groupBy(
        rs.alias("rs"), ic.alias("__ic"), cc.alias("__cc")
    ).agg(F.count(F.lit(1)).alias("__fn"))
    # (rs, ic) level: bucket size, cc sub-bucket count (fine rows are
    # distinct cc values) and the single-bucket cc key (max == only)
    mid = fine.groupBy("rs", "__ic").agg(
        F.sum("__fn").alias("__icn"),
        F.count(F.when(F.col("__cc").isNotNull(), 1)).alias("__ccb"),
        F.max("__cc").alias("__cc1"),
    )
    # rs level: total docs (NULL-ic rows included — the dominance
    # denominator quirk), non-null bucket count, and the top bucket by
    # count desc / key asc (NULL ic excluded via the leading sort key;
    # the when-value leaves __top NULL for an all-missing recordset)
    final = mid.groupBy("rs").agg(
        F.sum("__icn").alias("__n"),
        F.count(F.when(F.col("__ic").isNotNull(), 1)).alias("__buckets"),
        F.min_by(
            F.when(
                F.col("__ic").isNotNull(),
                F.struct("__ic", "__icn", "__ccb", "__cc1"),
            ),
            F.struct(
                F.col("__ic").isNull().alias("z"),
                (-F.col("__icn")).alias("nc"),
                F.col("__ic").alias("k"),
            ),
        ).alias("__top"),
    )

    chosen = (F.col("__buckets") == 1) | (
        F.col("__top.__icn") / F.col("__n") > 0.9
    )
    ic_out = (
        F.when(F.col("__buckets") == 0, F.lit(""))
        .when(chosen, true_ic(F.col("__top.__ic")))
        .otherwise(F.lit("MULTIPLE"))
    )
    cc_out = (
        F.when(F.col("__buckets") == 0, F.lit(""))
        .when(
            chosen,
            F.when(F.col("__top.__ccb") == 0, F.lit(""))
            .when(F.col("__top.__ccb") == 1, F.col("__top.__cc1"))
            .otherwise(F.lit("MULTIPLE")),
        )
        .otherwise(F.lit("MULTIPLE"))
    )
    return final.select(
        F.col("rs").alias(rs_col),
        ic_out.alias("institutioncode"),
        cc_out.alias("collectioncode"),
    )
