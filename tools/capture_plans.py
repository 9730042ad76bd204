"""Capture Spark's explain output for catalog entries into a directory.

Usage:
    python tools/capture_plans.py SUFFIX --out DIR [--no-aqe]
        [--mode formatted|extended|cost|codegen] [query ...]

Writes DIR/<query>_<SUFFIX>.txt for each requested entry (all headline +
graded entries when none named). Driver-only — builds the DataFrame and
renders the plan, never executes a job, so it is cheap and safe to run
alongside other work. ``--mode extended`` also renders the optimized
logical plan; two checkouts' captures compare with ``diff`` once
expression ids (``#123``) and temporary paths are normalized.

``--no-aqe`` renders with spark.sql.adaptive.enabled=false so that
exchange reuse is visible in the capture: a pre-execution
AdaptiveSparkPlan tree cannot show ReusedExchange (reuse happens at
execution), so an adaptive capture of the dedup/sketch tiers cannot
show the "one fingerprint pass" that the executing test pins. The
rendered static plan is what the
non-adaptive planner would run; the adaptive plan differs only by the
AQE wrapper and runtime re-optimization.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="*", metavar="query")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--no-aqe", action="store_true")
    ap.add_argument("--mode", default="formatted",
                    choices=["formatted", "extended", "cost", "codegen"])
    args = ap.parse_intermixed_args()

    from idb_backend_spark.plans.catalog import Q, UNGRADED
    from idb_backend_spark.session import get_spark

    runnable = {**Q, **UNGRADED}
    names = args.names or list(runnable)
    os.makedirs(args.out, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("idb-backend-spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    if args.no_aqe:
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    try:
        for name in names:
            try:
                df = runnable[name](spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        args.mode
                    )
                )
            except Exception as e:  # keep going; record the failure
                plan = f"ERROR building plan: {e!r}\n"
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} chars)")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


if __name__ == "__main__":
    main()
