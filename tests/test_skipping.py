"""Fulltext data-skipping index tests: pruning correctness (no false
negatives, fewer files read) and end-to-end result equality with the
unpruned scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from idb_backend_spark.functions.text import fulltext_column, whole_token_match
from idb_backend_spark.plans import skipping


def _table(spark, tmp_path):
    # 8 files; the token 'zebra' appears in exactly one partition's rows
    rows = []
    for i in range(400):
        word = "zebra" if i % 400 == 7 else f"word{i % 40}"
        rows.append((i, f"common text {word} here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df = df.repartition(8, "doc_id").withColumn(
        "fulltext", fulltext_column("text")
    )
    path = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(path)
    return path


def test_prune_and_scan(spark, tmp_path):
    path = _table(spark, tmp_path)
    idx = str(tmp_path / "docs_tokidx")
    base = spark.read.parquet(path)
    skipping.build_token_index(base, ["fulltext"], idx)

    all_files = skipping.prune_files(spark, idx, [])
    assert len(all_files) == 8

    # 'zebra' lives in one row -> at most a couple of files admit it
    zfiles = skipping.prune_files(spark, idx, ["zebra"])
    assert 1 <= len(zfiles) < 8

    # conjunction tightens: common token alone admits everything
    cfiles = skipping.prune_files(spark, idx, ["common"])
    assert len(cfiles) == 8
    both = skipping.prune_files(spark, idx, ["common", "zebra"])
    assert set(both) == set(zfiles)

    # pruned scan == unpruned whole-token scan, for hit and miss queries
    for q in ["zebra here", "common text", "nosuchtoken"]:
        got = sorted(
            r["doc_id"]
            for r in skipping.fulltext_scan(spark, path, idx, q).collect()
        )
        expect = sorted(
            r["doc_id"]
            for r in base.filter(whole_token_match("fulltext", q)).collect()
        )
        assert got == expect, q


def test_prune_files_issues_one_probe_job(spark, tmp_path):
    """The bucket probe must cost ONE Spark job no matter how many tokens
    the query carries (all token hashes computed as columns of a single
    single-row select) — plus the one collect over the index table. A
    per-token probe job would mean N driver round-trips before the scan."""
    path = _table(spark, tmp_path)
    idx = str(tmp_path / "docs_tokidx_jobs")
    skipping.build_token_index(spark.read.parquet(path), ["fulltext"], idx)

    sc = spark.sparkContext

    def jobs_for(tokens, tag):
        sc.setJobGroup(tag, "prune_files probe")
        try:
            files = skipping.prune_files(spark, idx, tokens)
        finally:
            sc.setJobGroup(None, None)
        return files, len(sc.statusTracker().getJobIdsForGroup(tag))

    files1, n1 = jobs_for(["zebra"], "probe_1tok")
    # all four tokens co-occur in the zebra row, so the conjunction
    # still admits at least that row's file
    files4, n4 = jobs_for(["common", "text", "zebra", "here"], "probe_4tok")
    assert files1 and files4  # sanity: both probes resolve
    # the probe is ONE single-row job covering every token's hash — more
    # tokens must not mean more jobs (fixed overhead: index read + collect)
    assert n4 == n1, f"job count grew with token count: {n1} -> {n4}"
    assert n1 <= 3, f"expected <=3 jobs total for a probe, got {n1}"


def test_missing_token_skips_all_files(spark, tmp_path):
    path = _table(spark, tmp_path)
    idx = str(tmp_path / "docs_tokidx2")
    skipping.build_token_index(spark.read.parquet(path), ["fulltext"], idx)
    assert skipping.prune_files(spark, idx, ["qqqqq"]) == []
    out = skipping.fulltext_scan(spark, path, idx, "qqqqq")
    assert out.count() == 0


def test_update_token_index_is_incremental(spark, tmp_path):
    """Steady-state maintenance: only files added since the last build
    are scanned and appended; pruning then sees old + new files."""
    path = _table(spark, tmp_path)
    idx = str(tmp_path / "docs_tokidx_inc")
    skipping.build_token_index(spark.read.parquet(path), ["fulltext"], idx)
    n_before = spark.read.parquet(idx).count()

    # current index: nothing new to do
    assert skipping.update_token_index(spark, path, ["fulltext"], idx) == []

    # ingest a new batch carrying a token no old file has
    extra = spark.createDataFrame(
        [(1000 + i, "okapi sighting") for i in range(20)],
        "doc_id long, text string",
    ).withColumn("fulltext", fulltext_column("text"))
    extra.coalesce(2).write.mode("append").parquet(path)

    new = skipping.update_token_index(spark, path, ["fulltext"], idx)
    assert len(new) == 2  # exactly the two appended part files
    assert spark.read.parquet(idx).count() == n_before + 2

    # second run is a no-op; the index stays current
    assert skipping.update_token_index(spark, path, ["fulltext"], idx) == []

    # pruning admits only the new files for the new token, and the
    # end-to-end scan finds the new rows
    okapi_files = skipping.prune_files(spark, idx, ["okapi"])
    assert sorted(okapi_files) == sorted("file://" + f for f in new) or sorted(
        okapi_files
    ) == sorted(new)
    got = skipping.fulltext_scan(spark, path, idx, "okapi").count()
    assert got == 20
    # old tokens still resolve across the whole table
    assert skipping.fulltext_scan(spark, path, idx, "zebra here").count() == 1


def test_substring_probe_is_not_silently_pruned(spark, tmp_path):
    """A query token that is a proper substring of an indexed token
    ('zebr' ⊂ 'zebra') matches by whole tokens, the contract the index
    prunes for: the scan legitimately returns nothing (no whole token
    'zebr' exists) although contains() matches. The shim's substring
    flavor, which the index cannot prune for, is covered in
    tests/test_shim.py."""
    path = _table(spark, tmp_path)
    idx = str(tmp_path / "docs_tokidx3")
    base = spark.read.parquet(path)
    skipping.build_token_index(base, ["fulltext"], idx)

    expect = sorted(
        r["doc_id"]
        for r in base.filter(F.col("fulltext").contains("zebr")).collect()
    )
    assert expect  # the fixture has a 'zebra' row — contains() does match

    # 'zebr' is not a whole token anywhere -> empty, by contract
    tok = skipping.fulltext_scan(spark, path, idx, "zebr")
    assert tok.count() == 0


def test_unindexed_files_are_scanned_not_pruned(spark, tmp_path):
    """Crash-safety contract: data files appended AFTER the last index
    update must be admitted by pruning unconditionally — the miss costs
    extra reads, never dropped rows."""
    path = _table(spark, tmp_path)
    idx = str(tmp_path / "docs_tokidx_crash")
    skipping.build_token_index(spark.read.parquet(path), ["fulltext"], idx)

    # simulate ingest that crashed before update_token_index ran
    extra = spark.createDataFrame(
        [(2000, "quagga sighting")], "doc_id long, text string"
    ).withColumn("fulltext", fulltext_column("text"))
    extra.coalesce(1).write.mode("append").parquet(path)

    # the new token lives ONLY in the unindexed file; the scan must
    # still find it (silent false negative otherwise)
    got = skipping.fulltext_scan(spark, path, idx, "quagga").count()
    assert got == 1
    # and a token that matches nothing still reads the unindexed file
    # but returns no rows (superset-pruning stays exact)
    assert skipping.fulltext_scan(spark, path, idx, "nosuchtok").count() == 0


def test_tokenless_files_get_index_rows_and_noop_converges(spark, tmp_path):
    """A data file whose rows yield zero tokens must still get an index
    row (empty bucket set) — otherwise incremental maintenance
    re-classifies it as new forever."""
    path = str(tmp_path / "docs_empty")
    spark.createDataFrame(
        [(1, "real words here"), (2, None), (3, "")],
        "doc_id long, text string",
    ).withColumn("fulltext", fulltext_column("text")).repartition(
        3, "doc_id"
    ).write.mode("overwrite").parquet(path)
    idx = str(tmp_path / "docs_empty_idx")
    skipping.build_token_index(spark.read.parquet(path), ["fulltext"], idx)

    # every data file is covered, including any holding only null/empty
    n_files = len(spark.read.parquet(path).inputFiles())
    assert spark.read.parquet(idx).count() == n_files

    # append a token-LESS batch; the update must index it ONCE and then
    # report current on every later call
    spark.createDataFrame(
        [(10, None), (11, "")], "doc_id long, text string"
    ).withColumn("fulltext", fulltext_column("text")).coalesce(
        1
    ).write.mode("append").parquet(path)
    assert len(skipping.update_token_index(spark, path, ["fulltext"], idx)) == 1
    assert skipping.update_token_index(spark, path, ["fulltext"], idx) == []
    assert skipping.fulltext_scan(spark, path, idx, "real words").count() == 1


def test_stale_index_rows_do_not_crash_scan_after_rewrite(spark, tmp_path):
    """The append-only index keeps rows for files a compaction deleted;
    pruning must intersect with the CURRENT listing or the reader is
    handed dead paths (PATH_NOT_FOUND on every query)."""
    path = _table(spark, tmp_path)
    idx = str(tmp_path / "docs_tokidx_stale")
    skipping.build_token_index(spark.read.parquet(path), ["fulltext"], idx)

    # compact: rewrite the table into fewer files (old paths die).
    # Materialize first — an in-place self-overwrite from a live scan of
    # the same directory is its own hazard, not what this test pins.
    rows = spark.read.parquet(path).collect()
    spark.createDataFrame(rows).coalesce(2).write.mode("overwrite").parquet(
        path
    )
    skipping.update_token_index(spark, path, ["fulltext"], idx)

    # the scan must survive and stay exact against the rewritten table
    got = skipping.fulltext_scan(spark, path, idx, "zebra here").count()
    assert got == 1


def test_empty_current_listing_admits_nothing(spark, tmp_path):
    """An EMPTY all_files listing is still a listing: after a rewrite
    replaced every table file, the stale index must admit no dead paths
    (an `if all_files:` falsy check would silently drop the restriction
    exactly when every file was replaced)."""
    path = _table(spark, tmp_path)
    idx = str(tmp_path / "docs_tokidx")
    skipping.build_token_index(spark.read.parquet(path), ["fulltext"], idx)
    assert skipping.prune_files(spark, idx, ["zebra"], all_files=[]) == []
    assert skipping.prune_files(spark, idx, [], all_files=[]) == []
