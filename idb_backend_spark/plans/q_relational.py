"""§2.3 joins / §2.5 windows / §2.7 set ops / §2.4 aggregations /
§2.6 sorts / §2.8 scalar-function entries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from idb_backend_spark.operators import aggregates as agg  # noqa: F401
from idb_backend_spark.operators import (  # noqa: F401
    ann,
    dedup,
    relations,
    versioning,
)
from idb_backend_spark.functions import grabbers, text  # noqa: F401
from idb_backend_spark.plans.registry import _t, _t_spread, query
from idb_backend_spark.query.shim import compile_shim, shim_to_sql  # noqa: F401


# --------------------------------------------------------------------------
# §2.3 joins / §2.5 windows / §2.7 set ops
# --------------------------------------------------------------------------


@query(
    "latest_version_per_key",
    "SELECT user_id, event_id, event_type FROM ("
    "  SELECT user_id, event_id, event_type,"
    "         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn"
    "  FROM events) WHERE rn = 1 ORDER BY user_id",
)
def latest_version_per_key(spark, sf_dir):
    """J1/W1 — LATERAL top-1-per-key (latest event per user)."""
    ev = _t(spark, sf_dir, "events")
    # project before the kernel: the max_by payload
    # struct is opaque to column pruning — unprojected, the scan dragged
    # events.value and the props MAP through the aggregation buffers to
    # output 3 columns
    ev = ev.select("user_id", "ts", "event_id", "event_type")
    out = versioning.latest_per_key_agg(ev, ["user_id"], ["ts", "event_id"])
    return out.select("user_id", "event_id", "event_type").orderBy("user_id")


@query(
    "version_numbering",
    "SELECT event_id, user_id, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS version "
    "FROM events ORDER BY event_id",
)
def version_numbering(spark, sf_dir):
    """W2 — monotonically increasing version per key."""
    ev = _t(spark, sf_dir, "events")
    out = versioning.with_version_numbers(
        ev, ["user_id"], [F.asc("ts"), F.asc("event_id")]
    )
    return out.select("event_id", "user_id", "version").orderBy("event_id")


@query(
    "identifier_aggregation",
    "SELECT c.c_custkey, count(o.o_orderkey) AS n_ids, "
    "coalesce(min(o.o_orderkey), -1) AS first_id "
    "FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
    "GROUP BY c.c_custkey ORDER BY c.c_custkey",
)
def identifier_aggregation(spark, sf_dir):
    """J2 — per-entity identifier aggregation (array_agg shape, projected to
    count+min for hash-stable comparison)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    agg_df = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count("o_orderkey").alias("n_ids"),
        F.min("o_orderkey").alias("first_id"),
    )
    return (
        cust.join(agg_df, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce("n_ids", F.lit(0)).alias("n_ids"),
            F.coalesce("first_id", F.lit(-1)).alias("first_id"),
        )
        .orderBy("c_custkey")
    )


@query(
    "sibling_symmetrize",
    "WITH edges AS (SELECT DISTINCT l_orderkey AS r1, l_partkey AS r2 FROM lineitem), "
    "sym AS (SELECT r1 AS src, r2 AS dst FROM edges "
    "        UNION ALL SELECT r2, r1 FROM edges) "
    "SELECT src, count(DISTINCT dst) AS n_siblings FROM sym "
    "GROUP BY src ORDER BY src",
)
def sibling_symmetrize(spark, sf_dir):
    """J3/U1 — undirected edge symmetrization + per-node degree.

    One full-data exchange (share one exchange across operations keyed
    the same way): an explicit hash repartition on
    ``src`` satisfies BOTH downstream aggregations' clustering
    requirements (HashPartitioning(src) clusters (src, dst) dedup AND
    the per-src count), so the (src, dst) dedup and the degree count run
    back-to-back with no second shuffle. The former
    ``countDistinct(dst)`` rewrite shuffled the full pair set twice
    (once by (src, dst), once by src): sf0.1 min-of-3 1.13 s -> 0.73 s,
    identical rows. Skew note: a hot src now dedups inside one
    partition, but as a spillable HashAggregate hash map — not a
    per-key in-memory array (the collect_set one-exchange alternative,
    rejected for exactly that reason); for adversarial hot-node graphs
    the two-exchange countDistinct form remains the salting fallback.

    Precondition: the dedup groupBy counts a NULL dst
    as a sibling group where the former countDistinct(dst) skipped
    NULLs. Both edge endpoints here are non-null TPC-H keys
    (l_orderkey/l_partkey), so the forms agree; a future caller feeding
    a NULLABLE edge source must filter dst IS NOT NULL first."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("r1"), F.col("l_partkey").alias("r2")
    )
    sym = relations.symmetrize_edges(edges)
    return (
        sym.repartition("src")
        .groupBy("src", "dst")
        .agg(F.lit(1))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_siblings"))
        .orderBy("src")
    )


@query(
    "crossfilter_semi_join",
    "SELECT o_orderkey, o_totalprice FROM orders o "
    "WHERE o.o_orderstatus = 'O' AND EXISTS ("
    "  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey"
    "  AND l.l_returnflag = 'N' AND l.l_quantity >= 45) "
    "ORDER BY o_orderkey",
)
def crossfilter_semi_join(spark, sf_dir):
    """J5 — has_child cross-filter as a left-semi join."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    r_out, _ = relations.cross_filter(
        orders,
        li,
        record_pred=F.col("o_orderstatus") == "O",
        media_pred=(F.col("l_returnflag") == "N") & (F.col("l_quantity") >= 45),
        link=("o_orderkey", "l_orderkey"),
    )
    return r_out.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")


@query(
    "anti_join_deletes",
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS ("
    "  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) "
    "ORDER BY c_custkey",
)
def anti_join_deletes(spark, sf_dir):
    """U2 — delete detection: entities absent from the incoming batch."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    gone = cust.join(orders.distinct(), "c_custkey", "left_anti")
    return gone.select("c_custkey", "c_name").orderBy("c_custkey")


# Catalog entry `latest_object_per_url` retired from GRADING to free a
# window slot for `tfidf_top_terms` (catalog.py retirement rule). J6 stays
# covered: the operator body is the SAME versioning.latest_per_key_agg
# max_by(struct) kernel that `latest_version_per_key` drives to a green row
# in the same catalog (J6 binds it to a composite fact key instead of a
# single entity key — key arity changes the grouping expression, not the
# kernel), and the kernel's window-form equivalence is pinned by
# tests/test_plan_properties.py. Registered graded=False rather than deleted
# because bench.py's HEADLINE set times this query on every run — it is the
# repo's large-fact-table top-1-per-key timing anchor.
@query("latest_object_per_url", graded=False)
def latest_object_per_url(spark, sf_dir):
    """J6 — DISTINCT ON (url) ... ORDER BY modified DESC pattern.

    Spread BY THE AGG KEYS: the keys are near-unique here, so the
    partial aggregate reduces nothing and the one-task scan of a
    one-row-group file serializes the whole max_by build; key-spreading
    on the grouping keys satisfies the aggregate's distribution
    requirement, so Catalyst adds NO second exchange — the same single
    shuffle, parallel instead of serial (measured 3.3 s -> 1.2 s at
    sf0.1 on local[32]; guarded no-op on wide scans). The spread is
    RANGE placement on those keys — the SortAggregate leaves each
    partition ordered by the group key, so the final
    orderBy(l_partkey, l_suppkey) is satisfied for free and its whole
    exchange + sort disappears (1.23 s -> 0.91 s, 2 exchanges -> 1;
    tests/test_plan_properties.py::test_range_spread_elides_final_orderby_exchange
    pins the one-exchange shape)."""
    li = _t_spread(
        spark, sf_dir, "lineitem", "l_partkey", "l_suppkey", by_range=True
    )
    # project to the consumed columns BEFORE the kernel: max_by's
    # payload struct is opaque to column pruning, so without this the
    # scan read and the spread exchange shuffled all 11 lineitem
    # columns to extract 4 from the winner (ReadSchema 11 -> 5 columns,
    # pinned by tests/test_plan_properties.py::
    # test_latest_kernels_scan_only_consumed_columns)
    li = li.select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate"
    )
    out = versioning.latest_per_key_agg(
        li, ["l_partkey", "l_suppkey"],
        ["l_shipdate", "l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"
    ).orderBy("l_partkey", "l_suppkey")


@query(
    "reconcile_etag_diff",
    # the reference's STORE-driven resume rule exactly
    # (index_from_postgres.py:186-222): work set = store rows minus
    # etag-equal minus never-indexed tombstones (ok%7=0 plants the
    # tombstone etag; those absent from the index — ok%3=0 — are
    # SKIPPED, while an indexed tombstone with a stale index etag is
    # reindexed). Index orphans (idx rows with no store row) are NOT
    # emitted — the reference's loop never visits them.
    "WITH idx AS (SELECT o_orderkey AS id, o_orderstatus AS etag FROM orders"
    "             WHERE o_orderkey % 3 != 0), "
    "store AS (SELECT o_orderkey AS id, "
    "          CASE WHEN o_orderkey % 7 = 0 "
    "          THEN '9a4e35834eb80d9af64bcd07ed996b9ec0e60d92' "
    "          WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS etag"
    "          FROM orders WHERE o_orderkey % 11 != 0) "
    "SELECT store.id FROM store LEFT JOIN idx ON idx.id = store.id "
    "WHERE NOT (store.etag = coalesce(idx.etag, chr(0)) "
    "OR (store.etag = '9a4e35834eb80d9af64bcd07ed996b9ec0e60d92' "
    "AND idx.etag IS NULL)) "
    "ORDER BY store.id",
)
def reconcile_etag_diff(spark, sf_dir):
    """U3 — resume reconciliation: the store-driven skip rule with the
    tombstone-never-indexed exception (index_from_postgres.py:211-214);
    index orphans excluded like the reference's store-only loop."""
    from idb_backend_spark.functions.etags import TOMBSTONE_ETAG

    orders = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    idx = orders.filter(ok % 3 != 0).select(
        ok.alias("id"), F.col("o_orderstatus").alias("etag")
    )
    store = orders.filter(ok % 11 != 0).select(
        ok.alias("id"),
        F.when(ok % 7 == 0, TOMBSTONE_ETAG)
        .when(ok % 5 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("etag"),
    )
    out = versioning.reconcile_skip_set(idx, store, key="id")
    return out.orderBy("id")


# --------------------------------------------------------------------------
# §2.4 aggregations / §2.6 sorts
# --------------------------------------------------------------------------


@query(
    "citation_counts",
    "SELECT o_custkey AS recordset, count(*) AS count FROM orders "
    "WHERE o_totalprice >= 150000 GROUP BY o_custkey "
    "ORDER BY count DESC, recordset",
)
def citation_counts(spark, sf_dir):
    """A1/S11/O3 — per-recordset hit counts, desc (citation file shape)."""
    orders = _t(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "recordset"
    )
    return agg.hit_counts(orders, F.col("o_totalprice") >= 150000, "recordset")


# A2 (filtered total count) — catalog entry `total_count` retired to
# free a catalog slot (catalog.py retirement rule).
# The operator stays covered: `download_e2e` drives the shim-compiled
# filter -> count composition end-to-end (its citation totals come from
# compile_shim-filtered counts), the count/hit_counts aggregation shape
# stays driver-graded via `citation_counts`, and shim predicate
# compilation itself is unit-tested in tests/test_shim.py.


@query(
    "unique_values_counts",
    # second arm plants a mixed-case scientificname column — the
    # reference capitalize()s scientificname values BEFORE counting
    # (download.py:189-190), merging the three case variants into ONE
    # 'Acer rubrum' bucket; nulls still land on the uncapitalized ''
    "SELECT field, value, count FROM ("
    "SELECT 'p_brand' AS field, "
    "coalesce(CAST(p_brand AS VARCHAR(32)), '') AS value, "
    "count(*) AS count FROM part GROUP BY 2 "
    "UNION ALL "
    "SELECT 'dwc:scientificName' AS field, "
    "CASE WHEN sn IS NULL THEN '' "
    "ELSE upper(substr(sn, 1, 1)) || lower(substr(sn, 2)) END AS value, "
    "count(*) AS count FROM ("
    "SELECT CASE CAST(p_partkey % 4 AS INT) "
    "WHEN 0 THEN 'acer rubrum' WHEN 1 THEN 'ACER RUBRUM' "
    "WHEN 2 THEN 'Acer Rubrum' END AS sn FROM part) GROUP BY 2"
    ") ORDER BY field, count DESC, value",
)
def unique_values_counts(spark, sf_dir):
    """A3 — uniquevals export: value histogram desc with empty-string
    null bucket, plus the scientificname capitalize-before-count fold
    (download.py:189-190) on a planted mixed-case column."""
    part = _t(spark, sf_dir, "part")
    brand = agg.unique_values(part, "p_brand").withColumn(
        "field", F.lit("p_brand")
    )
    planted = part.select(
        F.expr(
            "CASE CAST(p_partkey % 4 AS INT) "
            "WHEN 0 THEN 'acer rubrum' WHEN 1 THEN 'ACER RUBRUM' "
            "WHEN 2 THEN 'Acer Rubrum' END"
        ).alias("dwc_scientificname")
    )
    sci = agg.unique_values(planted, "dwc_scientificname").withColumn(
        "field", F.lit("dwc:scientificName")
    )
    return (
        brand.unionByName(sci)
        .select("field", "value", "count")
        .orderBy("field", F.desc("count"), "value")
    )


# RETIRED: `max_watermark` — A5 is a one-line
# grouped max (aggregates.max_watermark, which stays and gains a direct
# unit test in tests/test_quantize.py::test_max_watermark_operator); the
# watermark mechanic keeps driver evidence inside `ingest_summary` (run
# aggregates) and `streaming_windowed_rollup` (event-time watermarks).
# Its one non-obvious piece — epoch-ms projection of a TIMESTAMP_NTZ via
# timestampdiff from the NTZ epoch, because unix_micros fails on NTZ and
# an LTZ cast drags the session timezone in — is preserved by the unit
# test. Slot freed for `quantized_cosine_topk` (q_textsim).


@query(
    "collection_counts_pivot",
    "SELECT user_id, "
    "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS click_count, "
    "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS view_count, "
    "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS error_count "
    "FROM events GROUP BY user_id ORDER BY user_id",
)
def collection_counts_pivot(spark, sf_dir):
    """A6 — GROUP BY parent,type pivoted to per-type count columns."""
    ev = _t(spark, sf_dir, "events")
    out = agg.collection_counts(ev, "user_id", "event_type",
                                ["click", "view", "error"])
    return out.orderBy("user_id")


# A7 (basic daily rollup) — catalog entry `stats_daily_rollup` retired to
# free a grading slot for `export_jobs_queue` (catalog.py
# retirement rule). The A7 operator stays driver-graded through
# `stats_rollup_nested` (q_store.py — the full nested-freq-map shape);
# agg.stats_rollup remains unit-tested in tests/test_plan_properties.py.


@query(
    "duplicate_detection",
    "SELECT l_partkey, l_suppkey, count(*) AS n FROM lineitem "
    "GROUP BY 1, 2 HAVING count(*) > 1 ORDER BY n DESC, l_partkey, l_suppkey",
)
def duplicate_detection(spark, sf_dir):
    """A10/U4 — in-batch duplicate key detection."""
    li = _t(spark, sf_dir, "lineitem")
    return agg.duplicate_groups(li, ["l_partkey", "l_suppkey"])


@query(
    "majority_vote",
    "SELECT o_custkey, winner, votes FROM ("
    "  SELECT o_custkey, o_orderpriority AS winner, count(*) AS votes,"
    "         row_number() OVER (PARTITION BY o_custkey"
    "           ORDER BY count(*) DESC, o_orderpriority) AS rn"
    "  FROM orders GROUP BY o_custkey, o_orderpriority) "
    "WHERE rn = 1 ORDER BY o_custkey",
)
def majority_vote(spark, sf_dir):
    """A11 — most-common value per key with deterministic tie-break
    (license vote pattern)."""
    orders = _t(spark, sf_dir, "orders")
    return agg.majority_vote(orders, ["o_custkey"], "o_orderpriority").orderBy(
        "o_custkey"
    )


# Catalog entry `dqs_score` retired to free a catalog slot
# for `pq_recall_audit` (catalog.py retirement rule). A8/F18 stay
# driver-graded in the same catalog: `records_typed_projection`
# computes its dqs column through the real table-driven kernel
# (functions.flags.dqs_score_for over the §1.4 typed schema's
# weights/maxscore — the reference's conversions.py:218-224,:264-271
# shape), and `etl_enrichment_pipeline` grades the flag-subtracting
# dqs_score form. The retired entry's inline
# presence-count formula over `documents` was a simplified restatement
# of the same weighted-presence arithmetic, not a distinct kernel;
# functions.flags keeps its unit coverage in tests/test_typed_schema.py::
# test_dqs_score_for_matches_reference_fold.


# O1 (LIMIT/OFFSET page) — catalog entry `keyset_pagination` retired to
# free a grading slot for `video_frame_sample` (catalog.py
# retirement rule). O1 stays driver-graded through `keyset_deep_page`
# (the continuation walk, which exercises the same ordered-page
# machinery deeper), and paginate()/keyset equivalence is pinned by
# tests/test_plan_properties.py::test_paginate_and_keyset_walk_the_same_sequence.


# --------------------------------------------------------------------------
# §2.8 scalar functions
# --------------------------------------------------------------------------


@query(
    "grab_first_number",
    # TRY_CAST + NULLIF: a props value with NO numeric token extracts ''
    # and a plain CAST('' AS DOUBLE) would abort the whole oracle query,
    # where the Spark side emits the row with num = NULL
    "SELECT event_id, "
    "TRY_CAST(NULLIF(replace(regexp_extract(props, "
    "'([+-]?\\d+(?:,\\d{3})*(?:\\.\\d*)?)', 1), ',', ''), '') AS DOUBLE)"
    " AS num "
    "FROM events WHERE props IS NOT NULL ORDER BY event_id",
)
def grab_first_number_q(spark, sf_dir):
    """F3/F4 — locale-aware first-number grab from a string field."""
    ev = _t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    return ev.select(
        "event_id", grabbers.grab_first_number("props").alias("num")
    ).orderBy("event_id")


# RETIRED: `date_features` — F8's derived
# year/month/startdayofyear features are three built-in projections
# (F.year/F.month/F.dayofyear, conversions.py:626-627) with no custom
# operator behind them; the F8 machinery that can actually break
# (dateGrabber parsing, fallback assembly, bounds flag) stays graded by
# `date_fallback_assembly`. Slot freed for `mixture_sample` (q_scale).


@query(
    "case_fold_discipline",
    "SELECT lower(trim(p_type)) AS p_type_folded, count(*) AS count "
    "FROM part GROUP BY 1 ORDER BY count DESC, p_type_folded",
)
def case_fold_discipline(spark, sf_dir):
    """F1/X12 — write-time case folding + keyword histogram."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(grabbers.getfield("p_type").alias("p_type_folded"))
        .groupBy("p_type_folded")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "p_type_folded")
    )




@query(
    "recordset_file_join",
    "WITH rs AS (SELECT s_suppkey AS recordset_id, "
    "  CASE WHEN s_suppkey % 3 <> 0 THEN md5(CAST(s_suppkey AS VARCHAR)) END "
    "    AS file_harvest_etag FROM supplier), "
    "obj AS (SELECT md5(CAST(s_suppkey AS VARCHAR)) AS etag, "
    "  'text/csv' AS detected_mime, CAST(s_acctbal AS DOUBLE) AS payload_size "
    "  FROM supplier WHERE s_suppkey % 2 = 0) "
    "SELECT r.recordset_id, r.file_harvest_etag, o.detected_mime, "
    "o.payload_size FROM rs r LEFT JOIN obj o ON r.file_harvest_etag = o.etag "
    "ORDER BY recordset_id",
)
def recordset_file_join(spark, sf_dir):
    """J7 — recordset -> harvested file object left join
    (db.py:878-884). Recordsets synthesized from supplier; every 3rd has
    no harvest etag (never harvested), and the object store only holds
    objects for even suppkeys, so the entry exercises both null-key and
    unmatched-key left-join rows."""
    sup = _t(spark, sf_dir, "supplier")
    rs = sup.select(
        F.col("s_suppkey").alias("recordset_id"),
        F.when(
            F.col("s_suppkey") % 3 != 0,
            F.md5(F.col("s_suppkey").cast("string").cast("binary")),
        ).alias("file_harvest_etag"),
    )
    obj = sup.filter(F.col("s_suppkey") % 2 == 0).select(
        F.md5(F.col("s_suppkey").cast("string").cast("binary")).alias("etag"),
        F.lit("text/csv").alias("detected_mime"),
        F.col("s_acctbal").cast("double").alias("payload_size"),
    )
    out = relations.attach_harvest_file(rs, obj)
    return out.select(
        "recordset_id", "file_harvest_etag", "detected_mime", "payload_size"
    ).orderBy("recordset_id")


@query(
    "annotation_count",
    "SELECT o.o_orderkey AS uuid, coalesce(a.n, 0) AS annotation_count "
    "FROM orders o LEFT JOIN (SELECT l_orderkey, count(*) AS n FROM lineitem "
    "WHERE l_returnflag = 'R' GROUP BY l_orderkey) a "
    "ON a.l_orderkey = o.o_orderkey ORDER BY uuid",
)
def annotation_count(spark, sf_dir):
    """J11 — LATERAL count(*) of approved annotations per uuid
    (index_from_postgres.py:122-126). Annotations synthesized from
    lineitem ('R' returnflag = approved); orders with none keep 0."""
    orders = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("uuid"))
    anns = _t(spark, sf_dir, "lineitem")
    out = relations.annotation_counts(
        orders, anns, key="uuid", ann_key="l_orderkey",
        pred=F.col("l_returnflag") == "R",
    )
    return out.select("uuid", "annotation_count").orderBy("uuid")


@query(
    "ordered_group_iteration",
    "SELECT user_id, string_agg(CAST(event_id AS VARCHAR), '|' "
    "ORDER BY ts, event_id) AS ordered_values, count(*) AS n "
    "FROM events GROUP BY user_id ORDER BY user_id",
)
def ordered_group_iteration(spark, sf_dir):
    """W3 — ordered-stream group iteration (index_from_postgres.py:197-215:
    ORDER BY parent then itertools.groupby). The Spark inversion sorts
    inside each aggregation buffer (sort_array over collected structs)
    instead of globally — no ordered-partition bottleneck."""
    ev = _t(spark, sf_dir, "events")
    out = agg.ordered_group_rollup(ev, "user_id", ["ts"], "event_id")
    return out.select("user_id", "ordered_values", "n").orderBy("user_id")

# Static-datasets-index dominant codes (generate_static_datasets_index
# .py:74-100). Graded in the slot the ann_cosine_topk retirement freed
# (q_textsim.py); it had been registered graded=False only because the
# catalog sat at the 100-entry ceiling. The kernel quirks (strict >0.9
# gate with the total-docs denominator, the single-bucket OR arm,
# verbatim cc vs true_ic-folded ic, count-desc/key-asc top bucket) stay
# unit-pinned in tests/test_datasets_index.py; the oracle grades them
# end-to-end.
_DATASETS_INDEX_ORACLE = (
    "WITH g AS (SELECT CAST(user_id % 6 AS VARCHAR) AS rs, "
    "  CASE CAST(user_id % 6 AS INT) "
    "    WHEN 0 THEN NULL WHEN 1 THEN 'Alpha Museum (AM)' "
    "    WHEN 2 THEN CASE WHEN event_id % 29 = 0 THEN 'Other' ELSE 'Beta (B)' END "
    "    WHEN 3 THEN CASE WHEN event_id % 2 = 0 THEN 'M1' ELSE 'M2' END "
    "    WHEN 4 THEN CASE WHEN event_id % 3 = 0 THEN 'D (Q)' END "
    "    ELSE 'Lab (A1)' END AS ic, "
    "  CASE CAST(user_id % 6 AS INT) WHEN 1 THEN 'C1' "
    "    WHEN 2 THEN 'c' || CAST(event_id % 2 AS VARCHAR) END AS cc "
    "  FROM events), "
    "fine AS (SELECT rs, ic, cc, count(*) AS fn FROM g GROUP BY 1,2,3), "
    "mid AS (SELECT rs, ic, sum(fn) AS icn, "
    "  count(CASE WHEN cc IS NOT NULL THEN 1 END) AS ccb, max(cc) AS cc1 "
    "  FROM fine GROUP BY 1,2), "
    "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY rs "
    "  ORDER BY (ic IS NULL), icn DESC, ic) AS rn FROM mid), "
    "tot AS (SELECT rs, sum(icn) AS n, "
    "  count(CASE WHEN ic IS NOT NULL THEN 1 END) AS buckets "
    "  FROM mid GROUP BY 1), "
    "tp AS (SELECT rs, ic, icn, ccb, cc1 FROM rk "
    "  WHERE rn = 1 AND ic IS NOT NULL), "
    "o AS (SELECT t.rs, t.n, t.buckets, tp.ic, tp.icn, tp.ccb, tp.cc1, "
    "  t.buckets = 1 OR (tp.icn / CAST(t.n AS DOUBLE)) > 0.9 AS chosen, "
    "  CASE WHEN regexp_matches(tp.ic, '^.*\\(([a-zA-Z]+)\\)$') "
    "    THEN lower(trim(regexp_extract(tp.ic, '^.*\\(([a-zA-Z]+)\\)$', 1))) "
    "    ELSE lower(trim(tp.ic)) END AS tic "
    "  FROM tot t LEFT JOIN tp ON t.rs = tp.rs) "
    "SELECT rs, "
    "CASE WHEN buckets = 0 THEN '' WHEN chosen THEN tic "
    "  ELSE 'MULTIPLE' END AS institutioncode, "
    "CASE WHEN buckets = 0 THEN '' "
    "  WHEN chosen THEN CASE WHEN ccb = 0 THEN '' "
    "    WHEN ccb = 1 THEN cc1 ELSE 'MULTIPLE' END "
    "  ELSE 'MULTIPLE' END AS collectioncode "
    "FROM o ORDER BY rs"
)


@query("datasets_index_codes", _DATASETS_INDEX_ORACLE)
def datasets_index_codes(spark, sf_dir):
    """Per-recordset dominant institution/collection codes over a
    synthesized (recordset, ic, cc) domain: events.user_id as the
    recordset, arms planted from event_id to hit every dominance
    branch."""
    ev = _t(spark, sf_dir, "events")
    k = F.col("event_id")
    rs = F.col("user_id") % 6
    g = ev.select(
        rs.cast("string").alias("rs"),
        # one dominance branch per recordset class:
        # 0 all-missing -> ''; 1 constant -> single-bucket fold 'am';
        # 2 ~97% majority -> dominant 'b'; 3 50/50 -> MULTIPLE;
        # 4 sparse single bucket among NULLs -> the OR len==1 arm 'q';
        # 5 digits-in-parens regex miss -> 'lab (a1)'
        F.when(rs == 0, F.lit(None).cast("string"))
        .when(rs == 1, F.lit("Alpha Museum (AM)"))
        .when(rs == 2, F.when(k % 29 == 0, F.lit("Other")).otherwise(F.lit("Beta (B)")))
        .when(rs == 3, F.when(k % 2 == 0, F.lit("M1")).otherwise(F.lit("M2")))
        .when(rs == 4, F.when(k % 3 == 0, F.lit("D (Q)")))
        .otherwise(F.lit("Lab (A1)"))
        .alias("ic"),
        # cc branches: single verbatim-case bucket / two buckets / none
        F.when(rs == 1, F.lit("C1"))
        .when(rs == 2, F.concat(F.lit("c"), (k % 2).cast("string")))
        .alias("cc"),
    )
    return agg.dominant_collection_codes(g, "rs", "ic", "cc").orderBy("rs")
