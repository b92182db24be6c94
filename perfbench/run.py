"""Closed-loop benchmark of the pystore_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload store_rw --seed 1 --seconds 5 --trace 0

One client thread drives the public API (``Store`` / ``Collection`` /
``Item`` and ``queries.QUERIES``) on ``local[<cpus>]``: each operation
starts when the previous one returned. The workload's inputs come from
``--seed``; its set-up (writing the base item, or a collecting pass
over the queries) runs ``SETUP_REPS`` times, each into a fresh store,
then one warm-up runs every op path of the workload once on the last
store (JVM JIT, page cache, metadata cache). ``setup_s`` is the median
set-up plus the warm-up. The timed loop then runs whole op blocks until
the ops' busy time reaches ``--seconds`` (at least one block, which may
take longer); ``ops_per_s`` is the median over blocks of ops per second
of busy time. Every op's output is checked against a model, and the end
state is checked once more after the loop.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
entry points of each engine layer (perfbench/tracing.py) and prints the
per-layer metrics instead. The last stdout line is the result object;
the line before it holds the per-op-class detail. Everything the run
writes goes under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
#: scale factor of the generated inputs, per workload
SCALE = {"store_rw": 0.1, "store_dml": 0.1, "analytics": 0.01}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the input scale (smoke tests)")
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Every file the run writes, Spark's and the JVM's included, goes
    under ``work``; Spark gets one local executor slot per CPU."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONHASHSEED": "0",
        # Spark's Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp


def percentile_tail(xs: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile p that still has at least
    ten samples beyond it; None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    p = 100.0 * (n - 10) / n
    xs = sorted(xs)
    return p, xs[n - 11]


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def run_loop(wl, seconds: float, tracer=None) -> dict:
    """Run whole op blocks until busy time reaches ``seconds``."""
    samples: list[tuple[str, str, float]] = []
    failures: list[str] = []
    busy = 0.0
    block_rates: list[float] = []
    block_ops, block_busy = 0, 0.0
    ops = wl.ops()
    while True:
        kind, cls, run, check = next(ops)
        if tracer is not None:
            tracer.begin_op(len(samples), kind)
        t0 = time.perf_counter()
        try:
            result, err = run(), None
        except Exception:  # an op that raises is a failed op; go on
            result, err = None, traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.end_op(len(samples), kind, cls, dt)
        samples.append((kind, cls, dt))
        busy += dt
        block_ops, block_busy = block_ops + 1, block_busy + dt
        if wl.block_end:
            block_rates.append(block_ops / block_busy)
            block_ops, block_busy = 0, 0.0
        if err is None:
            try:
                problems = check(result)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
        else:
            problems = [err]
        if problems:
            failures.append(f"op {len(samples) - 1} {kind}: "
                            + "; ".join(problems))
        if busy >= seconds and wl.block_end:
            break
    return {"samples": samples, "failures": failures, "busy": busy,
            "block_rates": block_rates}


def summarize(samples: list[tuple[str, str, float]]) -> dict:
    """Latency per op class and per op kind, in ms."""
    out: dict = {}
    by_cls: dict[str, list[float]] = {}
    by_kind: dict[str, list[float]] = {}
    for kind, cls, dt in samples:
        by_cls.setdefault(cls, []).append(dt * 1e3)
        by_kind.setdefault(kind, []).append(dt * 1e3)
    for cls, xs in sorted(by_cls.items()):
        out[f"{cls}_p50_ms"] = statistics.median(xs)
        out[f"{cls}_n"] = len(xs)
        tail = percentile_tail(xs)
        if tail is not None:
            out[f"{cls}_tail_ms"] = tail[1]
            out[f"{cls}_tail_pct"] = round(tail[0], 2)
    out["by_kind_p50_ms"] = {k: statistics.median(v)
                             for k, v in sorted(by_kind.items())}
    out["ops_ms"] = [[kind, dt * 1e3] for kind, _, dt in samples]
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    work = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir)
    sys.path[:0] = [HERE, ROOT]

    import workloads  # noqa: E402  (needs the paths above)

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    from pystore_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench_{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        return run_workload(spark, args, workloads, run_dir, work,
                            time.perf_counter() - t_start)
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes, and its Python workers with it) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(spark, args, workloads, run_dir: str, work: str,
                 startup_s: float) -> int:
    sf = args.sf if args.sf is not None else SCALE[args.workload]
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, sf, run_dir)
    t0 = time.perf_counter()
    wl.make_inputs()
    inputs_s = time.perf_counter() - t0
    setup_times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.after_setup()
    after_setup_s = time.perf_counter() - t0

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark, wl)
        tracer.install()
    try:
        loop = run_loop(wl, args.seconds, tracer)
    finally:
        if tracer is not None:
            tracer.uninstall()
    failures = loop["failures"]
    t0 = time.perf_counter()
    try:
        failures += [f"final: {p}" for p in wl.final_check()]
    except Exception:
        failures.append("final: " + traceback.format_exc(limit=3))
    final_s = time.perf_counter() - t0

    samples = loop["samples"]
    attempted = len(samples)
    # a failed end-state check fails the run; count it against the ops
    failed = min(attempted, len(failures))
    lat = [dt * 1e3 for _, _, dt in samples]
    live = wl.live_arrow_bytes()
    space_amp = dir_bytes(wl.space_root()) / live if live else None
    e2e = {
        # median over blocks: with several, one stalled op moves one
        # block's rate only
        "ops_per_s": (statistics.median(loop["block_rates"]), "1/s"),
        "setup_s": (statistics.median(setup_times) + warm_s, "s"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "setup_reps_s": setup_times, "warm_up_s": warm_s,
        "warm_up_steps_s": wl.warm_steps_s,
        # wall time of the phases that no metric bills
        "startup_s": startup_s, "inputs_s": inputs_s,
        "after_setup_s": after_setup_s, "final_check_s": final_s,
        "busy_s": loop["busy"], "block_ops_per_s": loop["block_rates"],
        "failed_op_share": failed / attempted,
        "op_p50_ms": statistics.median(lat),
        "peak_rss_mb": peak_rss_mb(spark),
        "space_amp": space_amp, **summarize(samples),
    }
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    if tracer is not None:
        metrics = tracer.metrics(attempted, e2e["ops_per_s"][0])
        detail["trace_file"] = tracer.write(
            os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))
        detail["missing_entry_points"] = tracer.missing()
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
