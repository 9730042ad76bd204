"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster (AQE, skew handling, partition-size
control); tested on local[N]. All equality semantics in the engine are
"lowercased keyword" (reference: idb/helpers/conversions.py:280-285), and
all timestamps are processed in UTC for deterministic date functions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _cpus() -> int:
    """SPARK_GRAFT_CPUS parsed LAZILY with a fallback — an import-time
    int() made any non-numeric value (an empty string from a CI
    template) an ImportError for the whole package, pointing at module
    import instead of configuration. Unset or non-numeric falls back to
    the cores this process may run on, not a fixed width."""
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "")))
    except ValueError:
        try:
            return len(os.sched_getaffinity(0))
        except AttributeError:  # no affinity API (macOS, Windows)
            return os.cpu_count() or 1


_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
_INFER_GEN_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)
_SEMANTIC_CONF = {
    # Deterministic time semantics (oracle parity with naive
    # timestamps): F.window and TIMESTAMP literals are session-tz
    # dependent, so another zone would rebucket near-midnight events
    # away from the DuckDB oracles' naive calendar.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) columns (events.ts) read as long nanos;
    # plans/registry._t converts them to microsecond TIMESTAMP_NTZ —
    # that loader is the one conversion point every catalog path uses.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _apply_semantic_conf(spark: SparkSession) -> None:
    """Set the session conf the engine's results depend on: the two
    `_SEMANTIC_CONF` values, and InferFiltersFromGenerate appended to
    the excluded optimizer rules (a rule already excluded stays so).

    InferFiltersFromGenerate infers `size(arr) > 0` from every explode
    and PushDownPredicate then substitutes the array expression into
    that filter below the projections — for the engine's expensive
    array builders (shingle windows, chunkers) that re-evaluates the
    tokenization O(k·n) times per row INSIDE the scan stage (measured
    20x on the shingle explode). Every generator in this engine
    explodes arrays that are non-empty by construction, so the
    inferred filter only costs. Each conf is written only when it
    differs, so a shared session is not mutated on every call."""
    for key, value in _SEMANTIC_CONF.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)
    excluded = spark.conf.get(_EXCLUDED_RULES, None) or ""
    if _INFER_GEN_RULE not in excluded:
        spark.conf.set(
            _EXCLUDED_RULES,
            f"{excluded},{_INFER_GEN_RULE}" if excluded else _INFER_GEN_RULE,
        )


def get_spark(
    app_name: str = "idb-backend-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
        # and dynamic join-strategy switch — essential at 100 TB where static
        # partition counts are always wrong somewhere.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Arrow for every pandas_udf / toPandas path (UDF kernels: date parse,
        # geo, simhash) — row-at-a-time Python UDFs are banned in this engine.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Align whole-stage-codegen's giving-up point with HotSpot's
        # actual JIT ceiling (-XX:HugeMethodLimit = 8000 bytecode bytes).
        # The default 65535 keeps stages whose generated consume loop is
        # 8-64 KB "codegen'd" — but HotSpot refuses to JIT them, so the
        # ENTIRE fused loop (trig, regexes, everything) executes as
        # interpreted bytecode. With 8000, such a stage falls back to
        # per-operator codegen, whose smaller methods all JIT: measured
        # 19.4 s -> 6.6 s on the 600k-row enrichment pipeline, no other
        # bench query regressed. Wide fused projections hit this
        # silently — there is no log line for "compiled but not JITted".
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Bound scan partition size so a 100 TB table still yields
        # executor-memory-sized tasks.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _apply_semantic_conf(spark)
    # The delimited read core intentionally reads header-bearing files
    # under a positional _cN schema (terms come from meta.xml or the
    # sniffed header — sources/delimited.py read_positional), which makes
    # CSVHeaderChecker log a name-mismatch WARN per file. The check is advisory
    # (enforceSchema=true semantics are exactly what the reader wants);
    # silence just that logger, not the log level.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.catalyst.csv.CSVHeaderChecker",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover — log4j internals are best-effort
        pass
    return spark


_BYTE_SUFFIX = {
    "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(raw, default: int) -> int:
    """JavaUtils.byteStringAsBytes suffix semantics ('16m', '1g'); a
    bare int() would silently fall back to the default and diverge from
    the split floor Spark actually uses."""
    if raw is None:
        return default
    s = str(raw).strip().lower()
    for suf in ("tb", "gb", "mb", "kb", "t", "g", "m", "k", "b"):
        if s.endswith(suf):
            try:
                return int(s[: -len(suf)].strip()) * _BYTE_SUFFIX[suf]
            except ValueError:
                return default
    try:
        return int(s)
    except ValueError:
        return default


def _bytes_conf(spark, key: str, default: int) -> int:
    return _parse_bytes(spark.conf.get(key, None), default)


def _local_paths(df) -> list[str] | None:
    """Scanned files as local filesystem paths; None if ANY file is on a
    remote scheme (s3/hdfs/...) — object storage means cluster scale,
    where the scan is wide and the spread must be a no-op.
    `inputFiles()` is a driver-only listing (~90 ms measured; no Spark
    job), vs ~170 ms for the `.rdd` plan conversion this replaced."""
    from urllib.parse import unquote, urlparse

    out = []
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        # unquote: Spark percent-encodes special characters in URIs, so
        # a path with a space arrives as %20 and a raw stat would miss
        out.append(unquote(parsed.path or uri))
    return out


def _est_scan_tasks(spark, paths: list[str], cores: int) -> int:
    """Estimate how many tasks the parquet scan of ``paths`` yields,
    via Spark's own split sizing (FilePartition packing:
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    paddedBytes/minPartitionNum))) bounded by the total parquet
    row-group count — byte-range splits cannot cut inside a row group,
    so a 300 MiB single-row-group file is ONE task no matter how many
    splits the byte math yields. Footers are read driver-side with
    pyarrow (sub-ms each); unreadable files leave the byte estimate
    unbounded rather than failing."""
    if len(paths) >= cores:
        return cores  # one task per file minimum: already wide
    sizes = []
    for p in paths:
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            return cores  # vanished/unreadable: don't add an exchange
    open_cost = _bytes_conf(
        spark, "spark.sql.files.openCostInBytes", 4 << 20
    )
    max_part = _bytes_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 << 20
    )
    padded = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_part, max(open_cost, padded // max(cores, 1) + 1))
    byte_splits = sum(
        -(-(sz + open_cost) // max_split) for sz in sizes
    )
    row_groups = 0
    try:
        import pyarrow.parquet as pq

        for p in paths:
            row_groups += pq.ParquetFile(p).metadata.num_row_groups
    except Exception:
        row_groups = byte_splits  # non-parquet/unreadable: bytes only
    return min(byte_splits, max(row_groups, 1))


#: spread sizing: one task per 64 KiB of input (see spread_for_compute's
#: docstring for the cost model)
SPREAD_MIN_BYTES_PER_TASK = 64 << 10


def spread_for_compute(
    df, *by: str, input_paths: list[str] | None = None, by_range: bool = False
):
    """Repartition to the session's default parallelism ONLY when the
    scan cannot reach it — the CPU-bound-enrichment pattern.

    The enrichment/signature expression stacks cost ~10x their scan
    bytes (the reference's figure for the same work is 750 rec/s/core),
    so a narrow input — a small file, a skinny dimension, one large row
    group — strands every core but the few the scan split to. The guard
    estimates the scan's task count from the actual file sizes and
    parquet row-group counts using Spark's own split formula
    (`_est_scan_tasks`), so it neither misses the
    big-file-one-row-group case (bytes look wide, scan is serial) nor
    re-adds a shrink exchange on many-small-files inputs that already
    split wider than the machine. At real scale the table is either
    remote (reported as unknown — no listing, no exchange) or splits to
    >= cores tasks, and the repartition exists exactly when it pays for
    itself.

    ``input_paths`` is the caller's local-path hint (plans/registry
    stats the table path — zero extra cost); otherwise a driver-side
    `inputFiles()` listing resolves them, and any remote scheme means
    cluster scale: return the frame untouched. Pass high-cardinality
    key columns as ``by`` for deterministic hash placement — an agg on
    the same keys then adds no second exchange (HashPartitioning
    satisfies the agg's ClusteredDistribution); the bare form
    round-robins. Use on ROW-WISE pipelines: the exchange reorders
    rows, which a downstream float aggregate would see as a different
    summation order (rounded floats absorb it — the repo's 6-dp
    contract — but exact replay of an ordered stream would not).

    The spread width is DATA-PROPORTIONAL: ``min(cores,
    ceil(input_bytes / SPREAD_MIN_BYTES_PER_TASK))`` rather than a flat
    ``cores``. A fixed count pinned every tiny input to 32-way task
    overhead (exact_dedup ran 2x FASTER on 8 cores than 32 at sf0.1 —
    pure scheduling cost), and
    REPARTITION_BY_NUM also blocks AQE coalescing, so nothing could
    undo it at runtime. AQE's own byte-based coalescing is NOT the
    right tool here: the spread exists because downstream CPU cost is
    ~10-100x the scan bytes, and AQE's 1 MB-floor parallelism rule
    would coalesce a 600 KB corpus to one partition and serialize the
    very work the spread parallelizes. The floor is 64 KiB
    (enrichment-class expression stacks cost ~1-4 us/byte, so a 64 KiB
    slice is ~0.1-0.3 s of compute — well above the ~10 ms task
    overhead; the width A/B is in DESIGN.md, "Data-proportional spread
    width"). At cluster
    scale nothing changes: a wide scan still short-circuits above, and
    a genuinely large narrow input still spreads to every core.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if input_paths is None:
        input_paths = _local_paths(df)
    if input_paths is None or not input_paths:
        # remote storage (cluster scale, scan already wide) or a
        # file-less plan (in-memory frame: partitioning already chosen
        # by its producer) — never add an exchange on a guess
        return df
    total = 0
    for p in input_paths:
        try:
            total += os.path.getsize(p)
        except OSError:
            return df  # vanished/unreadable: don't add an exchange
    n = min(cores, max(1, -(-total // SPREAD_MIN_BYTES_PER_TASK)))
    if _est_scan_tasks(spark, input_paths, cores) >= n:
        return df
    if by:
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in by]
        if by_range:
            # Range instead of hash placement (share
            # one exchange): RangePartitioning(by) still satisfies a
            # downstream aggregation's ClusteredDistribution on the same
            # keys, AND — because the aggregate's map-side sort leaves
            # each partition ordered by the group key — a final
            # orderBy(*by) is already globally satisfied, so Catalyst
            # drops the whole second exchange + sort. Use when the
            # query's OUTPUT is ordered by the spread keys
            # (latest_object_per_url: sf0.1 min-of-3 1.23 s -> 0.91 s,
            # 2 exchanges -> 1, identical rows). The range boundaries
            # come from the same sampling pass the final orderBy would
            # have paid anyway. Guard behavior unchanged: a wide scan
            # at cluster scale adds no exchange and the downstream sort
            # pays its own, as before.
            return df.repartitionByRange(n, *cols)
        return df.repartition(n, *cols)
    return df.repartition(n)


def _gate_broadcast(df, est_bytes: int, spark):
    """Broadcast ``df`` only when its estimated size fits the session's
    autoBroadcastJoinThreshold (the runtime-size-gate discipline of
    operators/lm.py). A "small side vs huge table" join — a near-dup
    probe batch, a replay guard's id set, a PQ query panel — must
    DEGRADE to a plain shuffled join when the small side grows past the
    threshold, not blow the broadcast limit: same answer, heavier
    exchange. At -1 (broadcast disabled) nothing is force-broadcast;
    AQE may still convert at runtime if the stats allow."""
    from pyspark.sql import functions as F

    cap = _bytes_conf(spark, "spark.sql.autoBroadcastJoinThreshold", 10 << 20)
    return df if est_bytes > cap else F.broadcast(df)


def barrier_filter(df, cond):
    """``df.filter(cond)`` that cannot be pushed below the projections
    it reads from.

    Why a barrier at all: PushDownPredicate happily moves a filter
    through a RepartitionByExpression, so a quality gate whose
    predicate embeds an enrichment-grade expression (regex stacks,
    tokenizers) gets SUBSTITUTED into the scan stage — below the
    `spread_for_compute` exchange whose entire purpose is to
    parallelize that work: evaluated SERIALLY in the narrow scan task,
    and twice everywhere (pushed filter + the projection that produces
    the column).

    A standalone nondeterministic FILTER
    (`where(spark_partition_id() >= 0)`, DESIGN.md, "Barrier filter above
    the spread") only
    pins the RELATIVE order of filters, and a nondeterministic
    PREDICATE does not help either:
    PushPredicateThroughNonJoin pushes ANY filter through a Project
    whenever the PROJECT's fields are all deterministic (the
    nondeterminism condition guards other plan nodes), so a gate over
    staged expensive columns (``__norm``-class staging) still re-inlines
    their definitions below the staging projection (observed: the
    corpus quality gate carried 6 normalize chains below the staging
    projects, barrier intact beneath it — and the spark_partition_id
    CONJUNCT sank with it).

    What does block the transposition is a NONDETERMINISTIC FIELD in
    the projection itself: the gate is rewritten to read a
    ``spark_partition_id()`` column staged right below it, so (a) the
    projection under the filter is nondeterministic -> the rule's
    ``fields.forall(_.deterministic)`` guard fails and nothing pushes
    through, and (b) the filter references the column, so ColumnPruning
    cannot strip it and re-open the hole. Task-retry-stable (the
    predicate is constant-true either way); cost one int comparison per
    row. The helper column never escapes: it is dropped right above the
    filter."""
    from pyspark.sql import functions as F

    staged = df.withColumn("__nopush", F.spark_partition_id())
    return staged.where(cond & (F.col("__nopush") >= 0)).drop("__nopush")

