"""Catalog registry: the (Q, ORACLE) maps the driver contract reads,
the table loader, and the @query registration decorator."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idb_backend_spark.session import _apply_semantic_conf, spread_for_compute


Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
# Runnable-but-not-driver-graded entries (sketch operators whose hash
# families are not SQL-expressible; their recall is proven by the
# exact-verified sibling entries in Q). bench.py still times these.
UNGRADED: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive for sessions a caller built, which get_spark did not:
    # the nanos-as-long read converted below, the UTC zone and the
    # excluded generate-filter rule all come from the one session helper.
    _apply_semantic_conf(spark)
    df = spark.read.parquet(_table_path(sf_dir, name))
    if name == "events":
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer div (not double: 1.7e18 exceeds double's 53-bit
            # mantissa) nanos -> micros, matching DuckDB's ns->us truncation.
            # timestampadd from the NTZ epoch keeps the wall clock free of
            # the session timezone, matching timestamp[us]-format data that
            # Spark reads natively as TIMESTAMP_NTZ.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def _table_path(sf_dir: str, name: str) -> str:
    """THE table-path rule — shared by the reader (_t) and the
    spread-guard stat (_table_paths) so a layout change can't
    desynchronize the size hint from what is actually scanned."""
    return f"{sf_dir}/{name}.parquet"


def _table_paths(sf_dir: str, name: str) -> list[str] | None:
    """Local data-file paths of a table (file or directory), cached and
    invalidated by the root's mtime (a rewritten fixture must not leave
    the guard on stale listings); None for paths os.path can't see
    (remote URIs) — spread_for_compute then treats the scan as
    cluster-scale/wide without listing anything."""
    import os

    p = _table_path(sf_dir, name)
    try:
        st = os.stat(p)
    except OSError:
        return None
    key = (sf_dir, name)
    hit = _TABLE_PATHS_CACHE.get(key)
    if hit is not None and hit[0] == st.st_mtime_ns:
        return hit[1]
    if os.path.isfile(p):
        paths = [p]
    else:
        paths = [
            os.path.join(r, f)
            for r, _, fs in os.walk(p)
            for f in fs
            if not f.startswith((".", "_"))  # skip _SUCCESS/.crc markers
        ]
    _TABLE_PATHS_CACHE[key] = (st.st_mtime_ns, paths)
    return paths


_TABLE_PATHS_CACHE: dict[tuple[str, str], tuple[int, list[str]]] = {}


def _t_spread(
    spark: SparkSession, sf_dir: str, name: str, *by: str,
    by_range: bool = False,
) -> DataFrame:
    """_t + spread_for_compute with a zero-cost local-path hint (the
    registry knows the path, so the guard is an os.stat + parquet
    footer read, not a Spark listing). For CPU-bound row-wise plans
    over registry tables. A path the local filesystem can't see is
    cluster scale: the frame is returned unspread with NO driver-side
    file listing at all. ``by_range`` ranges instead of hashes the
    placement — see spread_for_compute (for queries whose output is
    ordered by the spread keys)."""
    df = _t(spark, sf_dir, name)
    paths = _table_paths(sf_dir, name)
    if paths is None:
        return df
    return spread_for_compute(df, *by, input_paths=paths, by_range=by_range)


def query(name: str, oracle: str | None = None, graded: bool = True):
    def deco(fn):
        if graded:
            Q[name] = fn
            if oracle is not None:
                ORACLE[name] = oracle
        else:
            UNGRADED[name] = fn
        return fn
    return deco



def staging_dir(prefix: str) -> str:
    """mkdtemp whose reclamation is deferred to interpreter exit.

    For catalog entries whose returned DataFrame lazily reads files
    staged under the directory (roundtrip archives, landed streams,
    written stores): in-function deletion would race the caller's
    collect, so the tree is removed when the process exits instead.
    Entries whose results land in a memory sink delete their staging
    eagerly and should NOT use this."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
