"""Spans around calls into the engine's layers, and Spark's own meters
folded per span.

A span is recorded by the benchmark around each call it makes into a
layer (``plans``, ``query``, ``functions``, ``operators.*`` as their
last name, ``export``, ``sources``). Spans live in memory and are
written out once, when the run ends. While a span is innermost its id
is the Spark job group, so Spark's event log can be folded back onto
the span that caused each job, stage and task.

With tracing off every method is a cheap no-op, so the workload code
is the same in traced and untraced runs.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ["plans", "query", "sources", "functions", "relations",
          "aggregates", "store", "dedup", "ann", "export"]

#: task-metric folds reported for every layer
FOLDS = ["executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
         "python_mb"]

_PY_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request = None
        self._codegen = None
        if enabled:
            jvm = spark.sparkContext._jvm
            self._codegen = (
                jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME()
            )

    def codegen_count(self) -> int:
        return int(self._codegen.getCount()) if self.enabled else 0

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, call: str = ""):
        """``name`` is the layer (or the request kind for a root span),
        ``call`` the entry point inside it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"s{len(self.spans)}", "name": name, "call": call,
             "parent": parent["id"] if parent else None,
             "request": self.request, "start": time.perf_counter(),
             "end": None, "build_s": None, "codegen": self.codegen_count()}
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["codegen"] = self.codegen_count() - s["codegen"]
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def plan(self, df):
        """Force physical planning of ``df`` before its action, as a
        child span, and note how long the builder ran before it. ``df``
        must be the Dataset the action runs: an action that builds a
        new query (``count()``, a write) plans again."""
        if not self.enabled:
            return df
        cur = self._stack[-1] if self._stack else None
        if cur is not None and cur["build_s"] is None:
            cur["build_s"] = time.perf_counter() - cur["start"]
        with self.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        return df

    @staticmethod
    def dump_spans(spans: list[dict], path: str) -> None:
        """One JSON line per span: id, name, call, parent, request,
        start and end (perf_counter seconds), build_s, codegen."""
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that child spans cover."""
    iv = sorted((c["start"], c["end"]) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        s, e = max(s, span["start"]), min(e, span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def fold_event_log(log_dir: str) -> dict:
    """Per job group: jobs, completed stages, and task metrics summed
    from Spark's JSON event log (read after the context has stopped, so
    the file is complete)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    # Spark 4 rolls the log into a directory of event files
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(log_dir)
                   for f in files if not f.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get(
                        "Shuffle Bytes Written", 0) / 2**20
                    g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 2**20
                    for acc in (ev.get("Task Info") or {}).get(
                            "Accumulables", []):
                        if acc.get("Name") == _PY_SENT:
                            g["python_mb"] += float(acc.get("Update", 0)) / 2**20
    return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids[int(st[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (the JVM
    and its Python workers), including children they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in st[11:15])
    return total / tick


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over the
    host's cores since boot; 0 where /proc/stat has no steal field."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def alive(pids: list[int]) -> list[int]:
    """Pids that still run (a zombie awaiting its reaper counts as
    ended)."""
    out = []
    for p in pids:
        st = _stat(p)
        if st is not None and st[0] != "Z":
            out.append(p)
    return out
