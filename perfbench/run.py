"""RAG-path benchmark for vectordb_agentic_rag_spark.

    python3 perfbench/run.py --workload rag_query_batch --seed 1 --seconds 6 --trace 0

Runs one workload (see workloads.py) from the repository root: one
process, one ``session.get_spark()`` session at local[<cpus>], one
closed-loop client. The package is made importable for this process and
for Spark's Python workers through PYTHONPATH, as a deployment would;
shipping the package to workers is not exercised.

A run, in order:

1. generates the workload's inputs from ``--seed`` (untimed);
2. sets up once, cold: starts the JVM and the session, loads the
   operator registry, scans the fixture tables, builds the workload's
   state (the RAG index) and runs the first operations untimed.
   ``setup_s`` is the time from process start to the end of those,
   input generation excluded;
3. repeats the operation for ``--seconds`` (at least MIN_OPS times);
   ``op_p50_s`` is the median operation time;
4. checks every output against the independent oracles (oracles.py);
5. with ``--trace 1`` the timed loop gets half of ``--seconds``; the
   session is then restarted with Spark's event log on, the loop is
   repeated under spans for the other half, each stage of the operation
   is executed once on its own, and the per-layer metrics (layers.py)
   are printed instead; ``trace.overhead_s`` is the traced minus the
   untraced median operation time.

Both times leave out what the hypervisor took. On a virtual machine
whose CPUs are shared with other guests, the same operation's wall time
rises with the steal time of /proc/stat, so an interval's time is its
wall time x CPU / (CPU + steal), CPU being that of this process, the
JVM and its Python workers (procstat.uncontended). Raw wall times and
the steal share are printed beside them.

Diagnostics go to the lines before the last; the last line is the JSON
result. Spark's local dirs, temp files and the generated inputs stay
under ``.perfbench_work/`` in the repository root and are removed when
the run ends; traced runs keep their spans there as JSONL in
``traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()
with open("/proc/stat") as _f:
    STEAL_START = int(_f.readline().split()[8])

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402

ROOT = os.path.dirname(HERE)
PACKAGE = "vectordb_agentic_rag_spark"
MIN_OPS = 3
FLOOR_RUNS = 10


def _emit(tag: str, obj) -> None:
    print(json.dumps({tag: obj}, default=str), flush=True)


class Session:
    """Starts and stops the package's SparkSession; with ``event_log``
    the next start writes an uncompressed event log to that dir."""

    def __init__(self):
        self.spark = None
        self.jvm = None

    def start(self, app: str):
        from vectordb_agentic_rag_spark.session import get_spark

        self.spark = get_spark(app)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark._jvm
        return self.spark

    def stop(self) -> None:
        from vectordb_agentic_rag_spark.tables import clear_session_caches

        if self.spark is None:
            return
        clear_session_caches()
        self.spark.stop()
        self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def event_log(self, log_dir: str) -> None:
        props = self.jvm.java.lang.System
        props.setProperty("spark.eventLog.enabled", "true")
        props.setProperty("spark.eventLog.compress", "false")
        props.setProperty("spark.eventLog.rolling.enabled", "false")
        props.setProperty("spark.eventLog.dir", "file://" + log_dir)


def timed_loop(w, seconds: float, first: int = 0) -> list[tuple]:
    """Closed loop for ``seconds`` (at least MIN_OPS operations);
    returns (wall s, CPU s, steal s, what ``op`` returned) per operation."""
    samples = []
    t_end = time.perf_counter() + seconds
    i = first
    while time.perf_counter() < t_end or len(samples) < MIN_OPS:
        s0, c0, t0 = procstat.steal_seconds(), procstat.cpu_seconds(), time.perf_counter()
        with w.span("op", i):
            parts = w.op(i)
        wall = time.perf_counter() - t0
        samples.append((wall, procstat.cpu_seconds() - c0, procstat.steal_seconds() - s0, parts))
        i += 1
    return samples


def floor_runs_ms(spark) -> list[float]:
    """Same-session per-action floor, as bench.py records it:
    spark.range(1).toPandas(), FLOOR_RUNS times after one warm call."""
    one = spark.range(1)
    one.toPandas()
    runs = []
    for _ in range(FLOOR_RUNS):
        t0 = time.perf_counter()
        one.toPandas()
        runs.append((time.perf_counter() - t0) * 1000)
    return runs


def run(args, work: str) -> dict:
    import workloads

    w = workloads.make(args.workload, args.seed, work)
    t0 = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t0
    sess = Session()
    try:
        marks = [("start", time.perf_counter())]
        w.spark = sess.start(f"perfbench-{args.workload}")
        marks.append(("session.start", time.perf_counter()))
        from vectordb_agentic_rag_spark.registry import load_all_operators

        load_all_operators()
        marks.append(("registry.load", time.perf_counter()))
        w.scan_tables()
        marks.append(("tables.scan", time.perf_counter()))
        w.setup()
        marks.append(("workload.setup", time.perf_counter()))
        w.warmup()
        marks.append(("warmup", time.perf_counter()))
        setup_wall = marks[-1][1] - T_START - gen_s
        setup_steal = procstat.steal_seconds() - STEAL_START / procstat.TICK
        setup_s = procstat.uncontended(setup_wall, procstat.cpu_seconds(), setup_steal)
        setup_parts = {name: t - marks[j][1] for j, (name, t) in enumerate(marks[1:])}
        floors = floor_runs_ms(w.spark)
        samples = timed_loop(w, args.seconds / 2 if args.trace else args.seconds)
        floors += floor_runs_ms(w.spark)
        op_p50 = w.loop_value(samples)
        diag = {
            "input_gen_s": round(gen_s, 4),
            "setup_wall_s": round(setup_wall, 4),
            "setup_parts_s": {k: round(v, 4) for k, v in setup_parts.items()},
            "op_wall_cpu_steal_s": [(round(t, 4), round(c, 2), round(st, 2)) for t, c, st, _ in samples],
            "op_p50_wall_s": statistics.median(t for t, _, _, _ in samples),
            "loop_steal_share": round(
                sum(st for *_, st, _ in samples) / sum(c + st for _, c, st, _ in samples), 4
            ),
            "floor_range1_arrow_ms": round(statistics.median(floors), 2),
            "load_avg_1m": round(os.getloadavg()[0], 2),
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "package_import": "PYTHONPATH (workers do not receive a shipped package)",
        }
        rss = procstat.peak_rss_mb()
        if args.trace:
            layer_values, not_measured = traced(args, w, sess, work, op_p50, setup_parts)
        sess.stop()
        props = w.check()
    finally:
        sess.close()
    diag["run_s"] = round(time.perf_counter() - T_START, 2)
    _emit("diagnostics", diag)
    _emit("inputs", props)
    _emit("workload_metrics", {
        "failure_ratio": w.failed / max(1, w.attempted),
        "peak_rss_mb": rss,
    })
    if w.problems:
        _emit("problems", w.problems)
    if args.trace:
        _emit("not_measured", not_measured)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer_values.items()}
    else:
        metrics = {
            "op_p50_s": {"value": op_p50, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    return {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": metrics,
    }


def traced(args, w, sess, work: str, untraced_p50: float, setup_parts: dict):
    """The traced half of a ``--trace 1`` run; returns per-layer
    metrics as {name: (value, unit)}."""
    import eventlog
    import layers
    from spans import Tracer

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    sess.stop()
    sess.event_log(log_dir)
    w.spark = sess.start(f"perfbench-{args.workload}-traced")
    tr = Tracer(w.spark)
    w.setup()
    w.warmup()  # the new session's first operations, untraced
    w.tracer = tr
    samples = timed_loop(w, args.seconds / 2, first=1000)
    w.tracer = None
    w.decompose(tr)
    sess.stop()
    log = eventlog.parse(log_dir)
    spans_path = os.path.join(
        os.path.dirname(work), "traces", f"{args.workload}-seed{args.seed}.spans.jsonl"
    )
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    tr.write_jsonl(spans_path)
    _emit("trace", {"spans_jsonl": os.path.relpath(spans_path, ROOT),
                    "traced_op_wall_cpu_steal_s": [
                        (round(t, 4), round(c, 2), round(st, 2)) for t, c, st, _ in samples]})
    overhead_s = w.loop_value(samples) - untraced_p50
    return layers.derive(args.workload, w, tr, log, overhead_s, setup_parts)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # keeps the JVM's temp files, and its perf-data file, out of /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        }
    )
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
