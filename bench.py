"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line to stdout, small enough for a reader that
keeps only the last 2000 chars of stdout; ``tests/test_bench_emit.py``
pins its rendered length under ``STDOUT_BUDGET`` at the current HEADLINE
size. The full payload — per-query raw samples and the canary sample
arrays — goes to ``BENCH_LOCAL.json`` next to this script:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "rows": {...}, ..., "detail": "BENCH_LOCAL.json", "sf": ...}

The headline set exercises the scale-critical plan shapes: window
top-1-per-key over the fact table, symmetrized-union aggregation, semi-join
cross-filter, hash aggregations, exact + MinHash-LSH dedup, and brute-force
cosine top-k.

Method (DESIGN.md, "Headline bench method"):

- Noop sink. Every output column is materialized through the `noop`
  sink ("materialization": "noop"). `.count()` would let Catalyst prune
  the projected expressions: the enrichment pipeline measured 1.6 s
  counted vs ~19 s fully materialized at sf0.1.
- Warm-up. Every headline query runs once at sf0.001 (code paths), then
  once more untimed at the benchmark sf before its timed samples, so the
  JIT tail is not inside the measurement.
- Min of 3 ("timing": "min_of_3", "methodology": 3). Each query is timed
  three times and the minimum reported. Min-of-2 under-sampled: one
  query recorded 0.51 s in the timed loop while its own canary hit
  0.394 s in the same session, and the host stalls (one 1.1 s query
  measured 13.2 s in one run and 1.2 s in the next, with no guest-side
  load). The minimum measures the plan; all raw samples stay in
  BENCH_LOCAL.json, so the variance stays visible. Totals compare only
  at equal methodology.
- Pre and post canaries. One fixed query ("noise_canary") is
  re-materialized 5 times before and after the timed loop; its min/max
  calibrate how much of a total delta the host produces on its own, and
  a pre/post mismatch shows load that changed during the loop.
  "canary_floor" is the lower of the two minima.
- Row-drift pin. Per-query RESULT row counts are compared against the
  previous run's BENCH_LOCAL.json at the same sf; a mismatch prints a
  ``# ROW-DRIFT WARNING`` line to stderr. Warn-only — a legitimate
  operator change can move a count — but a query that "improved" by
  returning fewer rows leaves a visible mark.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: stdout-line budget: the driver captures the last 2000 chars of stdout;
#: 1800 leaves headroom for a trailing newline and minor float-width
#: variance. tests/test_bench_emit.py asserts a worst-case render of the
#: current HEADLINE fits.
STDOUT_BUDGET = 1800

HEADLINE = [
    "shim_term_terms",
    "latest_object_per_url",
    "version_numbering",
    "sibling_symmetrize",
    "crossfilter_semi_join",
    "citation_counts",
    # stats_daily_rollup's catalog entry was retired; the nested A7
    # shape (same rollup plus the freq-map agg) carries the timing now
    "stats_rollup_nested",
    "majority_vote",
    "exact_dedup",
    "token_count_quality",
    "lang_id_heuristic",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "ann_cosine_topk",
    "etl_enrichment_pipeline",
    "datum_shift_molodensky",
    "corpus_curation_pipeline",
    # the S15/P15 entries — keep their timings on the headline so
    # the serving-view join and the dominance rollup stay perf-tracked
    "media_serving_table",
    "datasets_index_codes",
]

#: number of timed materializations per query (min reported)
TIMED_RUNS = 3
METHODOLOGY = 3
TIMING_LABEL = "min_of_3"


def compact_payload(
    total: float,
    times: dict,
    rows: dict,
    failed: list,
    canary: dict | None,
    canary_pre: dict | None,
    sf: float,
) -> dict:
    """The stdout-line payload: everything needed to record a run
    (per-query timings + result rows + canary spread), nothing
    that grows unboundedly (raw sample arrays live in BENCH_LOCAL.json).
    Kept as a pure function so tests can pin its rendered size."""

    def canary_min_max(c):
        # min/max only — the 5-sample arrays would push the line past
        # the tail capture
        return (
            {"query": c["query"], "min": c["min"], "max": c["max"]}
            if c
            else None
        )

    nc, ncp = canary_min_max(canary), canary_min_max(canary_pre)
    return {
        "metric": "headline_query_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        # per-query RESULT row counts, so runs can
        # normalize throughput and catch a query whose timing "improved"
        # because it silently returned fewer rows
        "rows": rows,
        # non-empty => 'value' sums only the SURVIVORS and must not be
        # read as a speedup against a fully-green run
        "failed": failed,
        # methodology version — bump ONLY when the timing method changes
        # (v2 = noop + min_of_2; v3 = noop + min_of_3); deltas between
        # runs are meaningful only at equal methodology
        "methodology": METHODOLOGY,
        "materialization": "noop",
        "timing": TIMING_LABEL,
        "noise_canary": nc,
        "noise_canary_pre": ncp,
        # the canary FLOOR — the best the host could do on the fixed
        # canary query across both canary passes — as one
        # machine-readable number, so total deltas between runs can be
        # separated from host drift mechanically (11 "regressed" queries
        # once tracked a 0.26 -> 0.343 floor shift) instead of by
        # narrative
        "canary_floor": (
            min(x["min"] for x in (nc, ncp) if x) if (nc or ncp) else None
        ),
        # raw per-query samples + full canary arrays
        "detail": "BENCH_LOCAL.json",
        "sf": sf,
    }


def prior_rows(repo: str, sf: float) -> dict | None:
    """The previous run's per-query row counts (BENCH_LOCAL.json), if it
    ran at the same sf."""
    try:
        with open(os.path.join(repo, "BENCH_LOCAL.json")) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        return None
    if prev.get("sf") == sf and isinstance(prev.get("rows"), dict):
        return prev["rows"]
    return None


def check_row_drift(repo: str, sf: float, rows: dict) -> list[str]:
    """Warn-only row-count drift vs the previous run."""
    prev = prior_rows(repo, sf) or {}
    return [
        f"# ROW-DRIFT WARNING {name}: {prev[name]} -> {n} (vs BENCH_LOCAL.json)"
        for name, n in rows.items()
        if name in prev and n is not None and prev[name] != n
    ]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1  # path contains 'sf' without a trailing number

    from idb_backend_spark.plans.catalog import Q, UNGRADED
    from idb_backend_spark.session import get_spark

    runnable = {**Q, **UNGRADED}
    repo = os.path.dirname(os.path.abspath(__file__))

    spark = get_spark("idb-backend-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/whole-stage-codegen paths by running every headline query
    # once at the smallest scale factor (different data — only code paths
    # warm, no result reuse). An engine serving queries runs warm; cold-JVM
    # timings would measure JIT, not the plans.
    def materialize(df) -> None:
        # noop sink: full evaluation of every output column, no bytes
        # written — count() would let Catalyst prune the projections
        df.write.format("noop").mode("overwrite").save()

    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            materialize(runnable[name](spark, warm_dir))
        except Exception as e:
            print(f"# warmup {name} failed: {e}", file=sys.stderr)

    # host-noise canary (additive context, NOT part of the total or the
    # per-query timings): one fixed mid-weight headline query, 5 repeat
    # materializations; the spread calibrates how much of a total delta
    # this host can produce on its own. Run BEFORE and AFTER the timed
    # loop so a mid-run load shift shows inside one
    # artifact as a pre/post spread mismatch.
    canary_q = "majority_vote"

    def run_canary(tag: str) -> list[float]:
        out: list[float] = []
        try:
            df = runnable[canary_q](spark, sf_dir)
            for _ in range(5):
                t0 = time.time()
                materialize(df)
                out.append(round(time.time() - t0, 3))
        except Exception as e:
            print(f"# noise canary ({tag}) failed: {e}", file=sys.stderr)
        if out:
            print(
                f"# noise_canary_{tag} {canary_q}: min {min(out)} "
                f"max {max(out)} {out}",
                file=sys.stderr,
            )
        return out

    def canary_field(samples_: list[float]):
        return (
            {
                "query": canary_q,
                "samples": samples_,
                "min": min(samples_),
                "max": max(samples_),
            }
            if samples_
            else None
        )

    canary_pre = run_canary("pre")

    times: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    failed: list[str] = []
    total = 0.0
    for name in HEADLINE:
        try:
            # lookup INSIDE the try: a retired/renamed catalog entry not
            # yet reflected in HEADLINE must degrade to one failed row,
            # not a KeyError that kills the JSON line
            df = runnable[name](spark, sf_dir)
            # one UNTIMED warm-up materialization at the benchmark SF: the
            # sf0.001 loop above warms code paths but not this plan's
            # sf-specific JIT/codegen — without it the etl samples still
            # descended across all three timed runs ([4.233, 3.669, 3.34]),
            # i.e. the warm-up tail sat inside the measurement; discard it
            # explicitly
            materialize(df)
            runs = []
            for _ in range(TIMED_RUNS):
                t0 = time.time()
                materialize(df)
                runs.append(round(time.time() - t0, 3))
            n = df.count()  # untimed: row count for the report only
        except Exception as e:
            # one failing query must not swallow every other timing AND
            # the JSON line — record the failure and
            # keep going
            times[name] = None
            rows[name] = None
            failed.append(name)
            print(f"# {name}: FAILED {e}", file=sys.stderr)
            continue
        dt = min(runs)
        times[name] = dt
        samples[name] = runs
        rows[name] = n
        total += dt
        print(f"# {name}: {dt:.2f}s {runs} ({n} rows)", file=sys.stderr)

    canary = run_canary("post")

    # row-drift pin BEFORE overwriting BENCH_LOCAL.json (the comparison
    # source)
    for w in check_row_drift(repo, sf, rows):
        print(w, file=sys.stderr)

    core = compact_payload(
        total,
        times,
        rows,
        failed,
        canary_field(canary),
        canary_field(canary_pre),
        sf,
    )

    # full payload — everything in the stdout core PLUS the raw sample
    # arrays — to a local file for later comparison
    full = dict(core)
    full["samples"] = samples
    full["noise_canary"] = canary_field(canary)
    full["noise_canary_pre"] = canary_field(canary_pre)
    with open(os.path.join(repo, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(full, fh, indent=1)

    line = json.dumps(core)
    if len(line) > STDOUT_BUDGET:
        # degrade inside the budget rather than overflow the driver's
        # tail capture: rows are in BENCH_LOCAL.json
        core.pop("rows", None)
        core["rows_dropped"] = "see detail"
        line = json.dumps(core)
        print(
            f"# stdout line exceeded {STDOUT_BUDGET} chars; dropped rows "
            "from the core (full payload in BENCH_LOCAL.json)",
            file=sys.stderr,
        )
    print(line)


if __name__ == "__main__":
    main()
