"""The traced run: per-layer metrics from layer-call spans and the Spark
event log.

Traced and untraced passes alternate (at least one of each), so the
tracing overhead is traced ``wall_s`` minus untraced ``wall_s`` in
the same session.  Every job is attributed to the innermost span holding
its submission time and every task to the innermost span holding its
launch time; a layer-call span belongs to its own layer, a query's build
and exec spans to the layer of the query's headline operator.  Times are
self times: a span's duration minus its child spans'.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from .eventlog import EventLog, busy_ms
from .trace import LayerWrappers, Tracer
from .workloads import LAYERS

OP_METRICS = ("build_s", "build_jobs", "exec_s", "exec_jobs", "shuffle_bytes",
              "task_skew", "python_bytes", "blocks_left")
SPARK_METRICS = ("jobs", "tasks", "idle_s", "busy_frac", "gc_s", "spill_bytes")
UNITS = {"build_s": "s", "exec_s": "s", "idle_s": "s", "gc_s": "s",
         "overhead_s": "s", "build_jobs": "count", "exec_jobs": "count",
         "jobs": "count", "tasks": "count", "blocks_left": "count",
         "task_skew": "ratio", "busy_frac": "ratio", "shuffle_bytes": "B",
         "python_bytes": "B", "spill_bytes": "B", "input_bytes": "B",
         "jobs_pass_spread": "count"}


def metric_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["sources.build_s", "sources.build_jobs", "sources.input_bytes"]
    names += [f"{layer}.{m}" for layer in LAYERS[1:] for m in OP_METRICS]
    names += [f"spark.{m}" for m in SPARK_METRICS]
    names += ["trace.overhead_s", "trace.jobs_pass_spread"]
    return names


def _innermost(spans, t_ms):
    best = None
    for s in spans:
        if s["t0"] <= t_ms < s["t1"] and (best is None or s["t0"] >= best["t0"]):
            best = s
    return best


def pass_metrics(spans: list, pass_span: dict, log: EventLog, cores: int):
    """Per-layer metrics of one traced pass, and {query: jobs submitted
    while building it}."""
    by_id = {s["id"]: s for s in spans}
    inner = [s for s in spans if s["kind"] in ("build", "exec", "call")]

    def phase(s):
        while s is not None and s["kind"] not in ("build", "exec"):
            s = by_id.get(s["parent"])
        return s

    m = {n: 0.0 for n in metric_names()}
    kids = {}
    for s in inner:
        kids.setdefault(s["parent"], []).append(s)
    for s in inner:
        self_s = (s["t1"] - s["t0"] - sum(c["t1"] - c["t0"] for c in kids.get(s["id"], ()))) / 1000
        key = f"{s['layer']}.{'exec_s' if phase(s)['kind'] == 'exec' else 'build_s'}"
        if key in m:
            m[key] += self_s
    t0, t1 = pass_span["t0"], pass_span["t1"]
    build_jobs = {s["name"]: 0 for s in spans if s["kind"] == "build"}
    for t in (j for j in log.jobs if t0 <= j < t1):
        s = _innermost(inner, t)
        if s is not None:
            ph = phase(s)
            if ph["kind"] == "build":
                build_jobs[ph["name"]] += 1
            key = f"{s['layer']}.{ph['kind']}_jobs"
            if key in m:
                m[key] += 1
    tasks = log.tasks_in(t0, t1)
    runs = {}
    for t in tasks:
        s = _innermost(inner, t.launch_ms)
        if s is None:
            continue
        layer = s["layer"]
        runs.setdefault(layer, []).append(t.run_ms)
        if f"{layer}.shuffle_bytes" in m:
            m[f"{layer}.shuffle_bytes"] += t.shuffle_write
            m[f"{layer}.python_bytes"] += t.python_bytes
    for layer, rs in runs.items():
        med = statistics.median(rs)
        if f"{layer}.task_skew" in m and med > 0:
            m[f"{layer}.task_skew"] = max(rs) / med
    for s in spans:
        if s["kind"] == "query" and f"{s['layer']}.blocks_left" in m:
            m[f"{s['layer']}.blocks_left"] += s.get("blocks_left", 0)
    wall_ms = t1 - t0
    m["sources.input_bytes"] = sum(t.input_bytes for t in tasks)
    m["spark.jobs"] = log.jobs_in(t0, t1)
    m["spark.tasks"] = len(tasks)
    m["spark.idle_s"] = (wall_ms - busy_ms(tasks, t0, t1)) / 1000
    m["spark.busy_frac"] = sum(t.run_ms for t in tasks) / (wall_ms * cores)
    m["spark.gc_s"] = sum(t.gc_ms for t in tasks) / 1000
    m["spark.spill_bytes"] = sum(t.spill for t in tasks)
    return m, build_jobs


def traced_passes(run, seconds: float) -> dict:
    """Alternate traced and untraced passes for ``seconds`` (at least one
    of each); returns {metric: (value, unit)} and writes the spans to
    ``.perfbench/spans-<workload>-<seed>.json``.

    Two checks fail the run: job counts that differ between timed passes,
    and a query that submits fewer build jobs than its ``min_build_jobs``
    on a traced pass (the cost-auto detector skipped)."""
    from .run import WORK, host

    spark = run.spark
    cores = host()[0]
    log = EventLog.open(os.path.join(WORK, "eventlog"), spark.sparkContext.applicationId)
    tracer = Tracer()
    wrappers = LayerWrappers(tracer)
    per_pass, walls, pass_spans = [], {True: [], False: []}, []
    # an untimed pass first, so the untraced passes do not hold the one
    # that still carries most of the JIT's warm-up
    run.timed_pass(1)
    t_end = time.perf_counter() + seconds
    p = 2
    with tracer.span("workload", run.wl.name, seed=run.seed):
        while True:
            traced = p % 2 == 0
            with tracer.span("pass", str(p), traced=traced) as ps:
                if traced:
                    wrappers.install()
                try:
                    wall = run.timed_pass(p, tracer=tracer if traced else None)[0]
                finally:
                    wrappers.uninstall()
            walls[traced].append(wall)
            pass_spans.append(ps)
            if traced:
                log.poll(spark)
                spans = [s for s in tracer.spans if s["id"] > ps["id"]]
                ps["metrics"], ps["build_jobs"] = pass_metrics(spans, ps, log, cores)
                per_pass.append(ps["metrics"])
                for q in run.wl.queries:
                    n = ps["build_jobs"].get(q.name, 0)
                    if n < q.min_build_jobs:
                        run.fail(q.name, f"pass {p}: {n} build jobs, "
                                         f"expected at least {q.min_build_jobs}")
            p += 1
            if time.perf_counter() >= t_end and walls[True] and walls[False]:
                break
    log.poll(spark)
    # job counts of every timed pass, traced or not: they must repeat
    jobs = [log.jobs_in(ps["t0"], ps["t1"]) for ps in pass_spans]
    tracer.spans[0]["pass_jobs"] = jobs
    tracer.dump(os.path.join(WORK, f"spans-{run.wl.name}-{run.seed}.json"))
    if max(jobs) != min(jobs):
        run.fail("trace", f"jobs per pass differ between passes: {jobs}")
    print(f"[perfbench] traced: jobs per pass {jobs}; build jobs per traced "
          f"pass {[ps['build_jobs'] for ps in pass_spans if 'build_jobs' in ps]}; "
          f"wall traced {walls[True]} untraced {walls[False]}", file=sys.stderr)
    out = {}
    for name in metric_names():
        unit = UNITS[name.rsplit(".", 1)[1]]
        if name == "trace.overhead_s":
            v = statistics.median(walls[True]) - statistics.median(walls[False])
        elif name == "trace.jobs_pass_spread":
            v = max(jobs) - min(jobs)
        else:
            v = statistics.median(pm[name] for pm in per_pass)
        out[name] = (v, unit)
    return out
