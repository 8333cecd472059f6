"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship|lake_er --seed N \\
        --seconds S --trace 0|1

Run from the repository root. One client runs the workload's operation in
a closed loop (each call starts after the previous one committed) on a
local[4] session, until ``--seconds`` have passed; the end-to-end metrics
come from the cold set-up and the first call, on a fresh JVM. With
``--trace 1`` the run makes one call of the workload's traced mirror
instead. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it describe the run (``{"perfbench": ...}``) and, when
traced, each span (``{"span": ...}``). Exits non-zero without a result
when the engine's sources are not beside ``perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
ROLES = ("prep", "model", "candidates", "score", "resolve")
# the engine files the benchmark calls into; all must exist to run
REQUIRED = ("xlink_spark/flagship.py", "xlink_spark/session.py", "jobs/run_er.py")


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """sha256 over the engine's Python sources (the checkout may not be a
    git repository, so this identifies the code measured)."""
    h = hashlib.sha256()
    files = [os.path.join("jobs", "run_er.py")]
    for d, _, fs in os.walk(os.path.join(ROOT, "xlink_spark")):
        files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs if f.endswith(".py")]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        p = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def isolate(work: str) -> None:
    """Pin the core count and keep every file Spark and the JVM write
    inside the run's work directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    for k in ("XLINK_SPARK_MASTER", "XLINK_SHUFFLE_PARTITIONS", "XLINK_DRIVER_MEM"):
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # fixed JIT compiler threads, so that their CPU time can be read apart
    # from the program's (spans.tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]


def new_session():
    from xlink_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop the session, the JVM and every process it started, and wait."""
    from pyspark import SparkContext

    from perfbench.spans import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def measure(wl, spark, seconds: float, traced: bool):
    """The closed loop, or the traced call. Returns (samples, failures,
    details, trace), where ``samples`` holds one value per untraced call:
    latency, CPU seconds of the JVM and its workers less those of the JIT
    compiler threads, the JIT compiler's CPU seconds, and the heap retained
    once the call has committed."""
    from perfbench.spans import Tracer, held_storage_mb, retained_heap_mb, tree_cpu_s

    samples: dict = {"call_s": [], "cpu_s": [], "jit_cpu_s": [], "heap_mb": []}
    failed = 0
    details: dict = {"calls": 0}

    def one() -> bool:
        nonlocal failed
        details["calls"] += 1
        t, (c, j) = time.time(), tree_cpu_s()
        try:
            wl.run(spark)
            samples["call_s"].append(time.time() - t)
            c1, j1 = tree_cpu_s()
            samples["cpu_s"].append((c1 - c) - (j1 - j))
            samples["jit_cpu_s"].append(j1 - j)
            samples["heap_mb"].append(retained_heap_mb(spark))
            ok, details["check"] = wl.check(spark)
        except Exception as exc:  # a failed call is counted, not fatal
            ok, details["error"] = False, f"{type(exc).__name__}: {exc}"[:500]
        failed += not ok
        return ok

    if not traced:
        t0 = time.time()
        while one() and time.time() - t0 < seconds:
            wl.release(spark)
        wl.release(spark)
        return samples, failed, details, None

    # traced run: one cold call of the traced mirror, whose output must
    # equal the pinned output of the untraced call
    details["calls"] += 1
    tracer = Tracer(spark)
    try:
        ratios = wl.traced(spark, tracer)
        ok, details["check"] = wl.check(spark)
    except Exception as exc:
        ok, details["error"] = False, f"{type(exc).__name__}: {exc}"[:500]
    trace = None
    if ok:
        tracer.release()  # what stays held is the program's own
        trace = {
            "spans": tracer.spans,
            "ratios": ratios,
            "held_storage_mb": held_storage_mb(spark),
            "trace_overhead_s": tracer.overhead_s,
        }
    wl.release(spark)
    return samples, int(not ok), details, trace


def end_to_end_metrics(samples: dict) -> dict:
    """The end-to-end metrics, from the run's one cold set-up and its first
    call: one job on a fresh driver JVM, as a spark-submit of the job runs
    it. Later calls, when ``--seconds`` leaves room for them, are warm and
    only reported in the info line."""
    return {
        "setup_s": {"value": samples["setup_s"], "unit": "s"},
        "call_s": {"value": samples["call_s"][0], "unit": "s"},
        "call_cpu_s": {"value": samples["cpu_s"][0], "unit": "s"},
        "retained_heap_mb": {"value": samples["heap_mb"][0], "unit": "MB"},
    }


def layer_metrics(trace: dict) -> dict:
    """The per-layer metrics: each role sums its spans."""
    from perfbench.spans import SPAN_METRICS, Span

    out: dict = {}
    for role in ROLES:
        spans = [s for s in trace["spans"] if s.role == role]
        agg = Span(role, role)
        for s in spans:
            for k in ("wall_s", "driver_gap_s", "jobs", "task_run_s", "task_cpu_s",
                      "shuffle_write_mb", "task_max_sum_s", "task_median_sum_s"):
                setattr(agg, k, getattr(agg, k) + getattr(s, k))
        agg.rows_out = spans[-1].rows_out
        for k, unit in SPAN_METRICS.items():
            out[f"{role}.{k}"] = {"value": getattr(agg, k), "unit": unit}
    out["candidates_per_item"] = {"value": trace["ratios"]["candidates_per_item"], "unit": "ratio"}
    out["pass_ratio"] = {"value": trace["ratios"]["pass_ratio"], "unit": "ratio"}
    out["held_storage_mb"] = {"value": trace["held_storage_mb"], "unit": "MB"}
    out["trace_overhead_s"] = {"value": trace["trace_overhead_s"], "unit": "s"}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    t_start = process_start_time()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        t = time.time()
        wl.prepare(work, args.seed)
        prepare_s = time.time() - t
        # set-up: from process start until a fresh session has read the
        # inputs (interpreter, JVM and gateway start), less writing them
        spark = new_session()
        wl.load(spark)
        setup_s = time.time() - t_start - prepare_s
        samples, failed, details, trace = measure(wl, spark, args.seconds, bool(args.trace))
        samples["setup_s"] = setup_s
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "python": platform.python_version(),
            "git_commit": git_commit(),
            "source_sha256": source_digest(),
            "prepare_s": prepare_s,
            "samples": samples,
            "phases": getattr(wl, "phases", None),
            **details,
        }
    finally:
        if spark is not None:
            stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": info}))
    result = {"correct": failed == 0, "attempted": details["calls"], "failed": failed,
              "metrics": {}}
    if args.trace:
        if trace is not None:
            for s in trace["spans"]:
                print(json.dumps(s.record()))
            result["metrics"] = layer_metrics(trace)
    elif failed == 0:
        result["metrics"] = end_to_end_metrics(samples)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
