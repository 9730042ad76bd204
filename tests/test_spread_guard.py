"""spread_for_compute guard contracts.

The guard must (a) widen a narrow local scan, (b) stay out of the way
when the scan already parallelizes — including the many-small-files
shape whose total bytes are tiny but whose file count exceeds the
machine, (c) respect the row-group bound (parquet byte splits cannot
cut inside a row group, so a big single-row-group file is a SERIAL
scan no matter the byte math), and (d) never touch a file-less
in-memory frame. These are exactly the misfire shapes a byte-only
threshold gets wrong in both directions."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from idb_backend_spark import session
from idb_backend_spark.session import (
    _bytes_conf,
    _est_scan_tasks,
    _parse_bytes,
    spread_for_compute,
)


def _cores(spark):
    return spark.sparkContext.defaultParallelism


def test_narrow_single_file_spreads(spark, sf_dir, monkeypatch):
    """r16 contract: the spread width is DATA-PROPORTIONAL —
    min(cores, ceil(bytes / SPREAD_MIN_BYTES_PER_TASK)) — so a narrow
    scan widens to one task per byte floor, not flat to machine width
    (a tiny input pinned to 32 tasks was pure scheduling overhead: the
    r15 driver artifact has exact_dedup 2x faster on 8 cores than 32)."""
    import math
    import os

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    size = os.path.getsize(f"{sf_dir}/documents.parquet")

    # under the default 64 KiB floor a sub-floor file must NOT pay an
    # exchange at all (the scan is already as wide as the data deserves)
    if size <= 64 << 10:
        assert spread_for_compute(df, "doc_id") is df
    monkeypatch.setattr(session, "SPREAD_MIN_BYTES_PER_TASK", 4096)
    out = spread_for_compute(df, "doc_id")
    expect = min(_cores(spark), math.ceil(size / 4096))
    assert out.rdd.getNumPartitions() == expect


def test_in_memory_frame_untouched(spark):
    df = spark.range(10)
    out = spread_for_compute(df, "id")
    assert out is df  # no files -> producer owns the partitioning


def test_many_small_files_not_shrunk(spark, tmp_path):
    """64 x tiny files: total bytes are far below any byte threshold,
    but the scan already yields >= cores partitions — the guard must
    NOT re-add a shrink exchange."""
    cores = _cores(spark)
    tbl = pa.table({"k": list(range(10)), "v": list(range(10))})
    root = tmp_path / "many.parquet"
    root.mkdir()
    n_files = max(cores + 4, 8)
    for i in range(n_files):
        pq.write_table(tbl, root / f"part-{i:05d}.parquet")
    df = spark.read.parquet(str(root))
    out = spread_for_compute(df, "k")
    assert out is df


def test_est_scan_tasks_row_group_bound(spark, tmp_path):
    """A file whose bytes pass the width test but that holds ONE row
    group is a one-task scan; the estimate must say so."""
    cores = _cores(spark)
    p = tmp_path / "big.parquet"
    # one row group, with enough bytes to defeat a pure byte threshold
    # against a tiny conf — instead of writing 100s of MBs, shrink the
    # split confs for the assertion
    tbl = pa.table({"x": list(range(50_000))})
    pq.write_table(tbl, p, row_group_size=1_000_000)
    meta = pq.ParquetFile(p).metadata
    assert meta.num_row_groups == 1
    est = _est_scan_tasks(spark, [str(p)], cores)
    assert est == 1


def test_est_scan_tasks_many_row_groups(spark, tmp_path):
    p = tmp_path / "chunked.parquet"
    tbl = pa.table({"x": list(range(10_000))})
    pq.write_table(tbl, p, row_group_size=100)  # 100 row groups
    est = _est_scan_tasks(spark, [str(p)], _cores(spark))
    # bounded by the byte-split estimate, not the row-group count —
    # a small file still packs into few splits
    assert 1 <= est <= _cores(spark)


def test_est_scan_tasks_missing_file_says_wide(spark):
    cores = _cores(spark)
    assert _est_scan_tasks(spark, ["/nonexistent/x.parquet"], cores) == cores


def test_bytes_conf_suffixes(spark):
    key = "spark.sql.files.openCostInBytes"
    original = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "16m")
        assert _bytes_conf(spark, key, 0) == 16 << 20
        spark.conf.set(key, "4194304")
        assert _bytes_conf(spark, key, 0) == 4194304
    finally:
        if original is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, original)


def test_parse_bytes_fallbacks():
    assert _parse_bytes("1g", 0) == 1 << 30
    assert _parse_bytes("512kb", 0) == 512 << 10
    assert _parse_bytes("junk", 7) == 7
    assert _parse_bytes(None, 9) == 9


def test_spread_uri_decoding(spark, tmp_path, monkeypatch):
    """A local path with a space must round-trip through Spark's
    percent-encoded inputFiles() URI and still be stat-able — a raw
    uri[5:] slice used to read '%20' literally, silently disabling the
    spread for local tables."""
    d = tmp_path / "bench data"
    d.mkdir()
    p = d / "t.parquet"
    pq.write_table(pa.table({"k": list(range(100))}), p)
    df = spark.read.parquet(str(p))
    # floor of 1 byte/task: the data-proportional width saturates at
    # cores, so the assertion stays about the URI decode, not sizing
    monkeypatch.setattr(session, "SPREAD_MIN_BYTES_PER_TASK", 1)
    out = spread_for_compute(df, "k")
    assert out.rdd.getNumPartitions() == _cores(spark)


def test_registry_cache_invalidates_on_rewrite(spark, tmp_path):
    from idb_backend_spark.plans.registry import _table_paths

    sf = str(tmp_path)
    p = tmp_path / "tbl.parquet"
    pq.write_table(pa.table({"k": [1]}), p)
    first = _table_paths(sf, "tbl")
    assert first == [str(p)]
    # rewrite at the same path: the mtime key must refresh the entry
    pq.write_table(pa.table({"k": [1, 2, 3]}), p)
    os.utime(p, ns=(os.stat(p).st_mtime_ns + 2, os.stat(p).st_mtime_ns + 2))
    second = _table_paths(sf, "tbl")
    assert second == [str(p)]
    assert _table_paths(sf, "missing") is None


def test_cpus_unset_or_empty_falls_back_to_affinity(monkeypatch):
    """local[N] follows the cores this process may run on when
    SPARK_GRAFT_CPUS is unset or blank — not a fixed 32."""
    try:
        expect = len(os.sched_getaffinity(0))
    except AttributeError:
        expect = os.cpu_count()
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._cpus() == expect
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert session._cpus() == expect
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._cpus() == 3


def test_table_loader_sets_the_semantic_conf(spark, sf_dir):
    """plans/registry._t readies a session it did not build: after it
    runs, nanos-as-long, the UTC zone and the InferFiltersFromGenerate
    exclusion hold, and a rule the session already excluded stays
    excluded (the rule is appended, not substituted)."""
    from idb_backend_spark.plans.registry import _t

    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    tz = "spark.sql.session.timeZone"
    rules = "spark.sql.optimizer.excludedRules"
    other = "org.apache.spark.sql.catalyst.optimizer.CollapseRepartition"
    saved = {k: spark.conf.get(k, None) for k in (nanos, tz, rules)}
    try:
        spark.conf.set(nanos, "false")
        spark.conf.set(tz, "America/New_York")
        spark.conf.set(rules, other)
        _t(spark, sf_dir, "events")
        assert spark.conf.get(nanos) == "true"
        assert spark.conf.get(tz) == "UTC"
        excluded = spark.conf.get(rules).split(",")
        assert other in excluded
        assert session._INFER_GEN_RULE in excluded
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
