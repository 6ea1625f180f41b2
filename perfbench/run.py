"""Benchmark of the interval engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload temporal --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Set-up starts a local Spark session sized
to the host, writes the seeded inputs and makes one untimed warm-up pass
that also collects every query's output for checking.  Timed passes then
repeat the workload for ``--seconds``; each pass builds every query and
forces it to the ``noop`` sink, on inputs whose plans are new to the
program.  After timing, the outputs are checked against DuckDB.  The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer
metrics from the Spark event log and the layer-call spans with
``--trace 1``, which also writes the spans to ``.perfbench/``).

Working files (inputs, event log, Spark scratch space) go to
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time
import traceback

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _env() -> None:
    """Environment the JVM and its Python workers inherit."""
    for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[k] = "1"  # one BLAS thread per worker: cores run workers
    # workers import the package from the checkout, not from an install
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, ROOT)


def host() -> tuple[int, int]:
    """(task slots, driver memory MB) from the CPU affinity and MemTotal.

    Half the cores run tasks: the JIT's compiler threads, the driver's
    Python and the Python workers need the rest, and on a shared
    hyperthreaded host every busy core adds stolen time (a CPU-bound loop
    on each of 1, 2, 3, 4 cores of a 4-core VM lost 0%, 1%, 5%, 9% to
    steal).  Memory: an eighth of the host's, 1 to 2 GB (the inputs are
    small and the host may be shared)."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return cores, int(min(max(kb // 1024 // 8, 1024), 2048))


JIT_FLAGS = ("-XX:Tier4InvocationThreshold=500", "-XX:Tier4MinInvocationThreshold=60",
             "-XX:Tier4CompileThreshold=1500", "-XX:Tier4BackEdgeThreshold=4000")


def start_spark(trace: bool):
    from pyspark.sql import SparkSession

    cores, mem_mb = host()
    tmp = os.environ["TMPDIR"]
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{mem_mb}m")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
         # a pass generates 150-180 distinct Java sources; with Spark's
         # default cache of 100 every pass compiled them all again and the
         # JIT then compiled the new classes, so most of a pass's CPU was
         # compilation (C2 threads 6-15 of 18-30 CPU-s) and pass times
         # never settled
         .config("spark.sql.codegen.cache.maxEntries", "4000")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         .config("spark.driver.extraJavaOptions", " ".join((
             # the serial collector sizes the heap by occupancy alone and
             # runs no GC threads beside the task threads: with G1 on a
             # shared 4-core host, resident memory followed the collector's
             # pause-time heuristics and pass times spread much wider
             "-XX:+UseSerialGC",
             # compiler threads live as long as the JVM, so their CPU time
             # can be told apart from the program's (procstat.jit_seconds)
             "-XX:-UseDynamicNumberOfCompilerThreads",
             # C2 compiles after a tenth of the default invocation counts, so
             # the few passes a run can afford come closer to the code a long
             # session runs (at the default counts a timed pass was still
             # getting faster after four timed passes)
             *JIT_FLAGS,
             f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"))))
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from perfbench import procstat

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        left = [p for p in procstat.tree() if p != os.getpid()]
        if not left:
            break
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.1)
        for p in left:  # reap our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def stored_rdds(spark) -> dict:
    """{rdd id: partitions stored} of every RDD with stored blocks."""
    return {int(i.id()): int(i.numCachedPartitions())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


class Run:
    """One workload on one seed: its inputs, passes, checks and failures."""

    def __init__(self, spark, wl, seed: int):
        from perfbench import data

        self.spark, self.wl, self.seed = spark, wl, seed
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.table_dir = os.path.join(WORK, "data", f"{wl.name}-{seed}")
        shutil.rmtree(self.table_dir, ignore_errors=True)
        data.write_tables(self.table_dir, seed, wl.sizes)

    def fail(self, name: str, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {what}")
        print(f"[perfbench] FAILED {name}: {what}", file=sys.stderr)

    def inputs(self, pass_id: int) -> str:
        from perfbench import workloads as W

        W.install_pass_predicate(pass_id)
        return self.table_dir

    # -- set-up pass: builds every query and collects what the checks need
    def warmup(self) -> dict:
        from perfbench import checks

        got = {}
        inp = self.inputs(0)
        for q in self.wl.queries:
            self.attempted += 1
            try:
                df = q.build(self.spark, inp)
                if q.recall_of is not None:
                    got[q.name] = {(int(r[0]), int(r[1]))
                                   for r in df.select("id_a", "id_b").collect()}
                else:
                    got[q.name] = checks.spark_digest(df)
            except Exception:
                self.fail(q.name, traceback.format_exc(limit=3))
        return got

    # -- one timed pass
    def timed_pass(self, pass_id: int, tracer=None):
        from perfbench import procstat

        inp = self.inputs(pass_id)
        times = []
        cpu0 = procstat.work_cpu_seconds()
        t0 = time.perf_counter()
        for q in self.wl.queries:
            self.attempted += 1
            tq = time.perf_counter()
            try:
                if tracer is None:
                    q.build(self.spark, inp).write.format("noop").mode("overwrite").save()
                else:
                    before = stored_rdds(self.spark)
                    with tracer.span("query", q.name, layer=q.layer) as rec:
                        with tracer.span("build", q.name, layer=q.layer):
                            df = q.build(self.spark, inp)
                        with tracer.span("exec", q.name, layer=q.layer):
                            df.write.format("noop").mode("overwrite").save()
                    # blocks of RDDs the query stored and did not release
                    rec["blocks_left"] = sum(n for i, n in stored_rdds(self.spark).items()
                                             if i not in before)
            except Exception:
                self.fail(q.name, traceback.format_exc(limit=3))
            times.append(time.perf_counter() - tq)
        wall = time.perf_counter() - t0
        return wall, procstat.work_cpu_seconds() - cpu0, times

    # -- output checks against DuckDB, outside the timed passes
    def check(self, got: dict) -> None:
        from catabra_pandas_spark.sources import TABLES
        from perfbench import checks as ck

        con = ck.duckdb_connect(self.table_dir, TABLES)
        try:
            for q in self.wl.queries:
                if q.name not in got:
                    continue  # already counted as failed
                try:
                    if q.recall_of is not None:
                        missed = ck.pairs(con, q.recall_of) - got[q.name]
                        if missed:
                            self.fail(q.name, f"recall: {len(missed)} ground-truth pairs missed")
                    else:
                        want = ck.duckdb_digest(con, q.oracle)
                        if want != got[q.name]:
                            self.fail(q.name, f"digest {got[q.name][:2]} != oracle {want[:2]}")
                except Exception:
                    self.fail(q.name, "oracle: " + traceback.format_exc(limit=3))
        finally:
            con.close()


def geomean(xs) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _env()
    # fails here, before any Spark start, when the program is not present
    from perfbench import procstat, workloads as W

    wls = W.workloads()
    if args.workload not in wls:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(wls)}")
    wl = wls[args.workload]
    trace = bool(args.trace)

    spark = start_spark(trace)
    app_log = os.path.join(WORK, "eventlog", spark.sparkContext.applicationId)
    try:
        run = Run(spark, wl, args.seed)
        got = run.warmup()
        setup_s = time.time() - T_START
        if trace:
            from perfbench import layers
            metrics = layers.traced_passes(run, args.seconds)
        else:
            walls, cpus, per_query = [], [], []
            t_end = time.perf_counter() + args.seconds
            with procstat.PeakRss() as rss:
                p = 1
                while True:
                    steal = procstat.steal_seconds()
                    wall, cpu, times = run.timed_pass(p)
                    steal = procstat.steal_seconds() - steal
                    print(f"[perfbench] pass {p}: wall {wall:.3f} s, cpu {cpu:.2f} s, "
                          f"host steal {steal:.2f} s, "
                          f"queries {' '.join(f'{t:.3f}' for t in times)}", file=sys.stderr)
                    walls.append(wall)
                    cpus.append(cpu)
                    per_query.append(times)
                    p += 1
                    if time.perf_counter() >= t_end:
                        break
        run.check(got)
        if not trace:
            # the fastest of the timed passes: the host's other tenants and
            # the JIT's remaining warm-up only ever add time
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (min(walls), "s"),
                "query_geomean_s": (geomean([min(ts) for ts in zip(*per_query)]), "s"),
                "cpu_s": (min(cpus), "s"),
                "peak_rss_mb": (rss.peak, "MB"),
            }
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, "data", f"{wl.name}-{args.seed}"),
                      ignore_errors=True)
        if os.path.exists(app_log):
            os.remove(app_log)

    for e in run.errors:
        print(f"[perfbench] {e}", file=sys.stderr)
    print(json_line(run, metrics))
    return 0


def json_line(run, metrics: dict) -> str:
    import json

    return json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


if __name__ == "__main__":
    sys.exit(main())
