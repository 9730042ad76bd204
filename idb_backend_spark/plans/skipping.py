"""Fulltext data skipping — per-file token index (SURVEY §4's one custom
optimizer candidate: the reference gets token lookup for free from
Elasticsearch's inverted index; a Spark scan would otherwise read every
file for every fulltext query).

Design: a tiny side table mapping each data file to the set of token-hash
buckets present in its text columns. At query time the driver probes the
index with the query's tokens and hands Spark only the files that can
contain ALL of them (P7 is a token conjunction). False positives are
possible (bucket collisions) and harmless — the residual fulltext filter
still runs; false negatives are impossible for whole-token matches.

Scale notes: the index is built with one distributed pass (explode
tokens → distinct (file, bucket) → collect per file) and is ~KBs per
file — thousands of files fit comfortably in driver memory. This is the
same trick as Parquet bloom filters / Delta data skipping, specialized
to tokenized text.

Matching semantics and pruning safety: the index records WHOLE analyzer
tokens (`analyzer_tokens()` — lowercase + letter/digit/underscore runs,
punctuation stripped; the same tokenization `query.shim` compiles P7
against). Pruning by bucket membership is therefore exact only for
whole-token matching — a substring probe ('cat' against a document
containing only 'cats') would be wrongly pruned, because hash('cat') is
not in the file's bucket set while `contains()` would match.
`fulltext_scan` therefore matches ES-analyzer-style: a conjunction of
whole-token matches (what the reference's `_all` match with operator:and
actually does, query_shim.py:123-133), through the same
`functions.text.whole_token_match` the shim's P7 compiler uses, so
pruning is exact — no false negatives possible.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idb_backend_spark.functions.text import analyzer_tokens, whole_token_match

#: bucket space for token hashes — 2^20 buckets keeps per-file sets exact
#: enough that collisions are rare while the index stays tiny
N_BUCKETS = 1 << 20


def _file_buckets(df: DataFrame, text_cols: list[str]) -> DataFrame:
    """(file, sorted distinct token buckets) — one row per data FILE,
    including files whose rows carry no tokens at all (empty array):
    a token-less file must still get an index row, or incremental
    maintenance re-classifies it as 'new' forever and — worse — pruning
    would treat it as unindexed on every query."""
    if not text_cols:
        raise ValueError(
            "text_cols is empty — an index over no columns can prune "
            "nothing; pass the fulltext column(s) to index"
        )
    # ONE scan regardless of column count: flatten the per-column token
    # arrays into a single exploded column (a per-column select unioned
    # together re-scanned the source once per text column, contradicting
    # the one-distributed-pass contract above)
    empty = F.array().cast("array<string>")
    all_toks = F.flatten(
        # per-column NULL-array coalesce: flatten() returns NULL if ANY
        # element array is null, which would drop every token of a row
        # whose OTHER column is null
        F.array(*[F.coalesce(analyzer_tokens(c), empty) for c in text_cols])
    )
    toks = df.select(
        F.input_file_name().alias("file"),
        F.explode_outer(all_toks).alias("tok"),
    )
    files = toks.select("file").distinct()
    buckets = (
        toks.filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .select(
            "file",
            F.pmod(F.xxhash64("tok"), F.lit(N_BUCKETS)).cast("int").alias("b"),
        )
        .distinct()
        .groupBy("file")
        .agg(F.sort_array(F.collect_set("b")).alias("buckets"))
    )
    return files.join(buckets, "file", "left").select(
        "file",
        F.coalesce("buckets", F.array().cast("array<int>")).alias("buckets"),
    )


def build_token_index(
    df: DataFrame, text_cols: list[str], out_path: str
) -> None:
    """One distributed pass: (file, sorted distinct token buckets).

    ``df`` must be a direct file-source frame (input_file_name() resolves).
    """
    _file_buckets(df, text_cols).write.mode("overwrite").parquet(out_path)


def update_token_index(
    spark: SparkSession,
    table_path: str,
    text_cols: list[str],
    index_path: str,
) -> list[str]:
    """Incremental index maintenance: index ONLY the data files not yet
    present in the side table and append their rows.

    ``build_token_index`` is the bootstrap (one full pass); this is the
    steady state — each ingest batch adds files to the table directory,
    and maintenance cost is O(new files), not O(table). Returns the list
    of newly indexed files (empty = index already current). Appends are
    atomic at file granularity, and ``prune_files`` admits any data file
    MISSING from the index unconditionally — so a crash between the data
    append and this update costs extra reads on the unindexed files,
    never dropped rows. File discovery goes through the same parquet
    source as the scan (``inputFiles()``), so partitioned/nested layouts
    and URI forms stay consistent with what ``input_file_name()``
    recorded at build time.
    """
    # a compaction/overwrite may have replaced the table's files since
    # this session last listed them; drop the cached listing or the scan
    # below reads dead paths
    spark.catalog.refreshByPath(table_path)
    existing = {
        r["file"]
        for r in spark.read.parquet(index_path).select("file").collect()
    }
    current = sorted(spark.read.parquet(table_path).inputFiles())
    new = [f for f in current if f not in existing]
    if not new:
        return []
    _file_buckets(spark.read.parquet(*new), text_cols).write.mode(
        "append"
    ).parquet(index_path)
    return new


def _query_buckets(raws: list[str], spark: SparkSession) -> list[int]:
    """Engine-tokenize the raw query strings AND hash every token to its
    bucket in ONE single-row job.

    Tokenization must go through the ENGINE's own `analyzer_tokens`
    expression (not a Python twin — the JVM's Unicode tables decide what
    a token is; a Python-side tokenizer produced query-only tokens for
    post-Unicode-13 code points that pruned every file, the U+10570
    class in tests/test_fulltext_prop.py), and hashing must match the
    build side EXACTLY (JVM xxhash64 with Spark's seed). Fusing both
    into one select keeps the probe at one driver round-trip regardless
    of query length. Returns the sorted distinct bucket list (the P7
    conjunction only needs the set)."""
    raws = [r for r in raws if r]
    if not raws:
        return []
    row = spark.range(1).select(
        *[
            F.transform(
                analyzer_tokens(F.lit(r)),
                lambda t: F.pmod(F.xxhash64(t), F.lit(N_BUCKETS)).cast(
                    "int"
                ),
            ).alias(f"b{i}")
            for i, r in enumerate(raws)
        ]
    ).first()
    return sorted({b for i in range(len(raws)) for b in row[f"b{i}"]})


def prune_files(
    spark: SparkSession,
    index_path: str,
    query_tokens: list[str],
    all_files: list[str] | None = None,
) -> list[str]:
    """Files whose bucket set contains EVERY query token's bucket (P7 is a
    conjunction). Runs as one filter over the KB-scale index table, plus
    exactly one single-row job to compute the token buckets JVM-side.

    ``all_files``: the table's CURRENT file listing. Any file in it that
    the index has no row for is admitted unconditionally — an unindexed
    file (ingest appended data, crashed before the index update) must be
    scanned, never pruned, or the miss becomes a silent false negative.
    The listing also RESTRICTS the admitted set: the append-only index
    keeps rows for files a compaction/overwrite deleted, and handing
    those paths to the reader would crash the scan (or resurrect deleted
    rows if the old files linger). Omit it only when the caller
    guarantees the index exactly matches the table.
    """
    idx = spark.read.parquet(index_path)
    # tokenize + hash in one fused single-row job (_query_buckets):
    # re-tokenizing through the ENGINE's analyzer means a caller-supplied
    # token like 'florida,' probes the bucket the build side actually
    # recorded, and a code point the JVM's Unicode tables don't know can
    # never yield a query-only token that prunes every file (the U+10570
    # class, tests/test_fulltext_prop.py)
    buckets = _query_buckets(query_tokens, spark)
    if not buckets:
        pred = F.lit(True)
    else:
        pred = reduce(
            and_, [F.array_contains("buckets", b) for b in buckets]
        )
    # ONE collect of the KB-scale index: the (file, admitted) rows yield
    # both the admitted set and — when the caller passes the current
    # listing — the indexed set, instead of scanning the index twice
    rows = idx.select("file", pred.alias("hit")).collect()
    files = [r["file"] for r in rows if r["hit"]]
    if all_files is not None:
        # NB: an EMPTY listing is still a listing — after a compaction
        # replaced every file, the stale index must admit nothing, not
        # fall back to its own dead paths
        current = set(all_files)
        indexed = {r["file"] for r in rows}
        files = [f for f in files if f in current] + [
            f for f in all_files if f not in indexed
        ]
    return files


def fulltext_scan(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    query: str,
    fulltext_col: str = "fulltext",
) -> DataFrame:
    """Fulltext query with file skipping + exact residual filter: a
    whole-token conjunction that reads only the files the index admits
    — exact, and an empty admissible set returns an empty frame without
    touching data files."""
    spark.catalog.refreshByPath(table_path)  # see update_token_index
    base = spark.read.parquet(table_path)
    files = prune_files(
        spark, index_path, [query],
        all_files=base.inputFiles(),
    )
    if not files:
        return base.filter(F.lit(False))
    # basePath keeps hive partition-column discovery working when the
    # table is partitioned — a bare leaf-file read would silently drop
    # those columns and diverge in schema from the empty-set path above
    pruned = spark.read.option("basePath", table_path).parquet(*files)
    return pruned.filter(whole_token_match(fulltext_col, query))
