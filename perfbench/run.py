"""idb-backend-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/compare.py OLD_RESULTS NEW_RESULTS

Run from the repository root. The workloads, their end-to-end and
per-layer metrics and the bound on each end-to-end metric are listed in
BENCHMARK.json; perfbench/README.md says what each metric means.

A run makes its inputs from ``--seed`` and sets up the engine: a fresh
JVM and Spark session, then as many untimed operations of every kind
as latencies take to stop falling, which warms the JIT and fills the
caches. That set-up is ``setup_s``. Then it serves whole rounds of its
fixed operation sequence until ``--seconds`` have passed, and times
every operation it served. With ``--trace 1`` it gives operations to a
traced and an untraced half in turn, and reports the per-layer metrics
and the difference between the two halves as tracing overhead. Answers
are checked outside the timed region.

The last stdout line is the JSON result; lines before it, starting
with ``#``, name every metric with its unit, the host and settings.
The full record, with the spans of a traced run, goes to
``.perfbench_out/`` for the compare mode.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import Counter
from statistics import geometric_mean, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_info(cpus: int) -> dict:
    import duckdb
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True, timeout=60).stderr.splitlines()
    rev = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=60)
        rev = out.stdout.strip() or rev
    # the checkout the benchmark runs in need not be a git repository:
    # a digest of the package sources identifies the code as well
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "idb_backend_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cpus,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": java[0] if java else "unknown",
        "python": sys.version.split()[0],
        "git_rev": rev,
        "source_sha1": h.hexdigest(),
    }


def spark_conf(work: str, traced: bool) -> dict:
    """Keeps every file Spark and the JVM write inside the work dir."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return conf


def measure(wl, spark, tracers, seconds: float, start: int):
    """Closed loop: serve whole rounds of ``wl.ROUND`` ops (with a
    tracer, ``wl.TRACED_ROUNDS`` of them at a time) until ``seconds``
    have passed, so every run times the same mix. Ops of each
    ``wl.turn_key`` take the tracers in turn, so with a traced and an
    untraced tracer both halves see the same warm-up state and request
    mix; every other key starts with the untraced half, so neither half
    is always the earlier one. Returns the ops, the CPU seconds the
    process tree used and the CPU seconds the host lost to other guests
    (steal)."""
    from perfbench.trace import host_steal_s, tree_cpu_s

    ops, turns, first = [], Counter(), {}
    i = start
    cpu0, steal0 = tree_cpu_s(), host_steal_s()
    end = time.perf_counter() + seconds
    step = wl.ROUND * (wl.TRACED_ROUNDS if len(tracers) > 1 else 1)
    while True:
        kind, inp = wl.next_input(i)
        key = wl.turn_key(kind, inp)
        k = (turns[key] + first.setdefault(key, len(first))) % len(tracers)
        turns[key] += 1
        ops.append(one_op(wl, spark, tracers[k], i, kind, inp))
        i += 1
        if (i - start) % step == 0 and time.perf_counter() >= end:
            break
    return ops, tree_cpu_s() - cpu0, host_steal_s() - steal0


def one_op(wl, spark, tr, i, kind, inp):
    from perfbench.workloads import Op

    tr.request = i
    t0 = time.perf_counter()
    try:
        with tr.span(kind):
            res = wl.run(spark, tr, kind, inp)
    except Exception:  # a failed op is counted, the run goes on
        traceback.print_exc()
        return Op(i, kind, time.perf_counter() - t0, 0, ok=False,
                  traced=tr.enabled)
    op = Op(i, kind, time.perf_counter() - t0, res.items, marks=res.marks,
            value=res.value, traced=tr.enabled)
    try:
        op.ok = bool(wl.check(op, inp))
    except Exception:
        traceback.print_exc()
        op.ok = False
    return op


def end_to_end(wl, ops, setup_s) -> dict:
    """``op_gmean_ms`` is a geometric mean, not a median: a portal round
    holds ten cheap searches and ten dearer requests, so its median sits
    on the gap between the two groups and jumps with either."""
    lat = [o.seconds for o in ops if o.kind in wl.primary]
    busy = sum(o.seconds for o in ops if o.kind in wl.rate)
    return {
        "setup_s": (setup_s, "s"),
        "op_gmean_ms": (geometric_mean(lat) * 1e3, "ms"),
        "items_per_s": (sum(o.items for o in ops if o.kind in wl.rate)
                        / busy, "1/s"),
    }


def per_layer(wl, ops, spans, folded, session, overhead) -> dict:
    """A layer's totals are divided by the traced ops that reach it (an
    op reaches a layer when one of its spans is in that layer), so how
    many ops of each kind the window held does not move them. Build
    time, forced planning and the ``spark.*`` counts are per primary op
    and come from the primary ops alone."""
    from perfbench.trace import FOLDS, LAYERS, self_time

    by_id = {s["id"]: s for s in spans}
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    primary = {s["request"] for s in spans
               if s["parent"] is None and s["name"] in wl.primary}
    n_primary = max(len(primary), 1)
    reach = {L: len({s["request"] for s in spans if s["name"] == L}) or 1
             for L in LAYERS}

    def layer_of(s):
        while s is not None and s["name"] not in LAYERS:
            s = by_id.get(s["parent"])
        return s

    def dur(s):
        return s["end"] - s["start"]

    def calls(layer, call):
        d = [dur(s) for s in spans if s["name"] == layer and s["call"] == call]
        return median(d) if d else 0.0

    out = {
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "session.jvm_peak_rss_mb": session["jvm_peak_rss_mb"],
        "tracing.overhead_pct": overhead,
    }
    build = 0.0
    for s in spans:
        if s["request"] not in primary:
            continue
        if s["name"] in ("plans", "query"):
            build += dur(s)
        elif s["build_s"] is not None:
            build += s["build_s"]
    out["plans.build_ms"] = build * 1e3 / n_primary
    out["query.compile_shim_us"] = calls("query", "compile_shim") * 1e6
    out["spark.plan_ms"] = sum(
        dur(s) for s in spans
        if s["name"] == "spark.plan" and s["request"] in primary
    ) * 1e3 / n_primary
    out["spark.codegen_compiles"] = sum(
        s["codegen"] for s in spans
        if s["parent"] is None and s["request"] in primary) / n_primary
    jobs = Counter()
    layer_fold = {L: dict.fromkeys(FOLDS + ["tasks"], 0.0) for L in LAYERS}
    for gid, g in folded.items():
        s = by_id.get(gid)
        if s is None:
            continue
        if s["request"] in primary:
            for k in ("jobs", "stages", "tasks"):
                jobs[k] += g.get(k, 0)
        owner = layer_of(s)
        if owner is not None:
            for k in FOLDS + ["tasks"]:
                layer_fold[owner["name"]][k] += g.get(k, 0.0)
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = jobs[k] / n_primary
    out["functions.tasks"] = (layer_fold["functions"]["tasks"]
                              / reach["functions"])
    out.update({
        "relations.cross_filter_s": calls("relations", "cross_filter"),
        "aggregates.hit_counts_s": calls("aggregates", "hit_counts"),
        "aggregates.keyset_page_ms": calls("aggregates", "keyset_page") * 1e3,
        "export.write_dwca_s": calls("export", "write_dwca"),
        "export.zip_bytes": median(
            [o.marks["zip_bytes"] for o in ops if "zip_bytes" in o.marks]
            or [0]),
        "sources.dwca_read_s": calls("sources", "dwca_read"),
        "store.apply_batch_s": calls("store", "apply_batch"),
        "store.append_s": calls("store", "append"),
        "store.compact_s": calls("store", "compact"),
        "store.files": 0.0,
        "store.bytes": 0.0,
        "store.lookup_ms": calls("store", "lookup") * 1e3,
        "dedup.exact_s": calls("dedup", "exact_dedup"),
        "dedup.minhash_s": calls("dedup", "minhash_lsh_pairs"),
        "dedup.simhash_s": calls("dedup", "simhash_pairs"),
        "ann.topk_s": calls("ann", "brute_force_topk"),
        "dedup.lsh_precision": 0.0,
    })
    out.update(wl.layer_values())
    for L in LAYERS:
        out[f"{L}.self_s"] = sum(
            self_time(s, children.get(s["id"], []))
            for s in spans if s["name"] == L) / reach[L]
        for k in FOLDS:
            out[f"{L}.{k}"] = layer_fold[L][k] / reach[L]
    return out


def shutdown(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    from perfbench.trace import alive, descendants

    spark.stop()
    gw = SparkContext._gateway
    procs = descendants(os.getpid())
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while alive(procs) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out"))
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still works there
            pass


def run(args, work: str) -> int:
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "idb_backend_spark")):
        _fail(f"no idb_backend_spark package next to {HERE}")
    if not os.path.isfile(bench_file):
        _fail("BENCHMARK.json not found")
    with open(bench_file) as f:
        bench = json.load(f)
    whys = {w["name"]: w["why"] for w in bench["workloads"]}
    if args.workload not in whys:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(whys)}")

    cpus = len(os.sched_getaffinity(0))
    # session._cpus() falls back to 32 cores when this is unset
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile
    tempfile.tempdir = os.path.join(work, "tmp")

    sys.path.insert(0, ROOT)
    try:
        from idb_backend_spark.session import get_spark
        from perfbench.trace import Tracer, fold_event_log, peak_rss_mb
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        _fail(f"cannot import the package: {e}")

    spark = None
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        wl = WORKLOADS[args.workload](ROOT, work, args.seed, bool(args.trace))
        wl.prepare()
        phase("inputs_s")
        spark = get_spark("perfbench",
                          extra_conf=spark_conf(work, bool(args.trace)))
        spark.sparkContext.setLogLevel("ERROR")
        phase("start_s")
        off = Tracer(spark, False)
        wl.start(spark)
        warm_ops = [one_op(wl, spark, off, i, *wl.next_input(i))
                    for i in range(wl.WARM_OPS)]
        phase("warmup_s")
        tracers = [off]
        if args.trace:
            tracers = [Tracer(spark, True), off]
        ops, cpu_s, steal_s = measure(wl, spark, tracers, args.seconds,
                                      wl.WARM_OPS)
        phase("measure_s")
        traced_ops = [o for o in ops if o.traced]
        ops = [o for o in ops if not o.traced]
        all_ops = warm_ops + ops + traced_ops
        notes = wl.verify(spark, all_ops, bool(args.trace))
        jvm_rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        phase("verify_s")
    finally:
        if spark is not None:
            shutdown(spark)
    phase("stop_s")
    setup = phases["start_s"] + phases["warmup_s"]

    failed = sum(not o.ok for o in all_ops)
    e2e = end_to_end(wl, ops, setup)
    details = wl.details(ops)
    if args.trace:
        details.update(wl.traced_details(ops + traced_ops))
    # CPU of the whole process tree (driver, JVM, Python workers); as
    # noisy as wall time on a shared host, so recorded without a bound
    details["cpu_ms_per_item"] = (
        cpu_s * 1e3 / max(sum(o.items for o in ops + traced_ops
                              if o.kind in wl.rate), 1), "ms")
    # CPU time the host's cores lost to other guests while measuring: a
    # run that lost much reads slow whatever the code
    details["steal_s"] = (steal_s, "s")
    host = host_info(cpus)
    layers = {}
    if args.trace:
        folded = fold_event_log(os.path.join(work, "events"))
        untraced = e2e["op_gmean_ms"][0]
        traced = end_to_end(wl, traced_ops, setup)["op_gmean_ms"][0]
        layers = per_layer(
            wl, traced_ops, tracers[0].spans, folded,
            {"start_s": phases["start_s"], "warmup_s": phases["warmup_s"],
             "jvm_peak_rss_mb": jvm_rss},
            (traced / untraced - 1) * 100)

    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    out_dir = os.path.join(args.out, args.workload)
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"seed{args.seed}-trace{args.trace}-{stamp}")
    record = {
        "workload": args.workload, "why": whys[args.workload],
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "phases": phases,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "units": {k: u for k, (_, u) in {**e2e, **details}.items()},
        "details": {k: v for k, (v, _) in details.items()},
        "per_layer": layers,
        "ops": [{"i": o.index, "kind": o.kind, "s": o.seconds,
                 "items": o.items, "ok": o.ok, "traced": o.traced,
                 **{k: v for k, v in o.marks.items() if k != "zip_bytes"}}
                for o in all_ops],
        "failures": notes,
    }
    if args.trace:
        Tracer.dump_spans(tracers[0].spans, base + ".spans.jsonl")
        record["spans"] = base + ".spans.jsonl"
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1)

    print(f"# perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("# host " + " ".join(f"{k}={v}" for k, v in host.items()))
    print(f"# why {whys[args.workload]}")
    print("# phases " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    for k, (v, u) in {**e2e, **details}.items():
        print(f"# {k} = {v:.6g} {u}")
    for k, v in layers.items():
        print(f"# layer {k} = {v:.6g}")
    for n in notes:
        print(f"# FAILED {n}")
    metrics = ({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
               if not args.trace else
               {m["name"]: {"value": layers.get(m["name"], 0.0),
                            "unit": m["unit"]} for m in bench["per_layer"]})
    print(json.dumps({"correct": failed == 0 and not notes,
                      "attempted": len(all_ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
