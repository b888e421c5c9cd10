"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed``, sets the program up several times (``setup_s`` is the median),
checks every output of one untimed gate pass against DuckDB, then times
at least two passes over the workload's calls, and more until ``--seconds``
seconds have elapsed.  It prints each
metric with its unit, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes: it reports the per-layer metrics from the
traced ones, writes the spans to ``perfbench/out/``, and reports the
tracing overhead per end-to-end metric on standard error.

All scratch data (inputs, lakes, Spark local dirs, temp files) lives under
``perfbench/.work/`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# (name, unit) of every metric; BENCHMARK.json declares the same lists.
END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("call_s.p50", "s"),
    ("vs_duckdb", "ratio"),
)
PER_LAYER = (
    ("proc.peak_rss_mb", "MB"),
    ("plans.session_s", "s"),
    ("lake.warm_s", "s"),
    ("operators.build_s", "s"),
    ("operators.build_share", "fraction"),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.cores_busy_frac", "fraction"),
    ("spark.input_bytes", "bytes"),
    ("spark.input_rows", "count"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("lake.files_kept", "count"),
    ("lake.files_total", "count"),
    ("lake.layout_served", "count"),
    ("lake.layout_lookups", "count"),
    ("ingest.blocks_per_s", "blocks/s"),
    ("ingest.flushes", "count"),
    ("ingest.flush_s.p50", "s"),
    ("ingest.flush_s.max", "s"),
    ("ingest.source_s", "s"),
    ("ingest.jobs_per_flush", "count"),
    ("ingest.tasks_per_flush", "count"),
    ("ingest.files_written", "count"),
    ("compact.wall_s", "s"),
    ("compact.files_before", "count"),
    ("compact.files_after", "count"),
    ("compact.bytes_rewritten", "bytes"),
    ("ingest.first_query_s", "s"),
    ("lake.stored_bytes", "bytes"),
    ("lake.stored_bytes_per_input_byte", "ratio"),
    ("duckdb.pass_s", "s"),
)


MIN_PASSES = 2  # timed passes per run, at least


def _environment(work: str) -> None:
    """Pin the session to this host's cores and keep every file the run
    writes inside ``work``; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell"
    )
    os.chdir(work)


def _percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))]


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _end_to_end(setups: list[float], passes: list) -> dict:
    calls = [c.wall_s for p in passes for c in p.calls]
    ratios = [p.query_s / p.duck_s for p in passes if p.duck_s > 0]
    return {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(p.wall_s for p in passes),
        "call_s.p50": statistics.median(calls),
        "vs_duckdb": statistics.median(ratios),
    }


def _per_layer(layers: list[dict], setup_layers: list[dict], cores: int) -> dict:
    out = {}
    for name, _ in PER_LAYER:
        vals = [lay[name] for lay in layers if name in lay]
        out[name] = statistics.median(vals) if vals else 0.0
    out["plans.session_s"] = statistics.median(s["session_s"] for s in setup_layers)
    if all("warm_s" in s for s in setup_layers):
        out["lake.warm_s"] = statistics.median(s["warm_s"] for s in setup_layers)
    if out["spark.exec_s"] > 0:
        out["spark.cores_busy_frac"] = out["spark.executor_run_s"] / (
            out["spark.exec_s"] * cores
        )
    return out


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            finally:
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()  # the JVM exits at end of input
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None


def _descendants(pid: int) -> set[int]:
    """Every process below ``pid`` in the process tree."""
    found, todo = set(), [pid]
    while todo:
        for path in glob.glob(f"/proc/{todo.pop()}/task/*/children"):
            try:
                with open(path) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            todo += [k for k in kids if k not in found]
            found.update(kids)
    return found


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"


def _wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill the ones still
    running after ``timeout`` seconds (Spark's Python workers, which the
    JVM starts and which end on their own once it has exited)."""
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke self-test")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import cardano_analytics_duckdb_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}",
              file=sys.stderr)
        return 3
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    load_start = os.getloadavg()

    import numpy as np

    from perfbench.helper import Helper
    from perfbench.trace import COUNTERS, Tracer
    from perfbench.workloads import Run

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    run_id = f"{args.workload}-{args.seed}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    helper = Helper(cpus, os.path.join(work, "tmp"))
    run = None
    try:
        run = Run(args.seed, work, helper, tracer, args.size,
                  np.random.default_rng(args.seed))
        wl = WORKLOADS[args.workload](run)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        setups, setup_layers = [], []
        for _ in range(wl.setups):
            t0 = time.perf_counter()
            lay = wl.setup()
            setups.append(time.perf_counter() - t0)
            setup_layers.append(lay)
        t0 = time.perf_counter()
        wl.gate()
        gate_s = time.perf_counter() - t0
        tracer.collect()

        passes = []
        t_start = time.perf_counter()
        while (
            len(passes) < MIN_PASSES
            or time.perf_counter() - t_start < args.seconds
        ) and len(passes) < wl.max_passes:
            traced = bool(args.trace) and len(passes) % 2 == 1
            tracer.enabled = traced
            since = len(tracer.spans)
            p = wl.run_pass()
            p.traced = traced
            if traced:
                tracer.collect()
                p.layers.update(wl.layers(p, tracer))
                for key in COUNTERS:
                    p.layers[f"spark.{key}"] = tracer.total(key, since)
                p.layers["duckdb.pass_s"] = p.duck_s
            passes.append(p)

        jvm_pid = run.spark._jvm.ProcessHandle.current().pid()
        peak_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        java = run.spark._jvm.System.getProperty("java.version")
    finally:
        # every process this run started: the helper, the JVM and the
        # Python workers the JVM forked
        started = _descendants(os.getpid())
        try:
            _stop(run.spark if run is not None else None)
        finally:
            helper.close()
            _wait_gone(started)
            shutil.rmtree(work, ignore_errors=True)

    plain = [p for p in passes if not p.traced]
    traced = [p for p in passes if p.traced]
    if args.trace:
        metrics = _per_layer([p.layers for p in traced], setup_layers, cpus)
        metrics["proc.peak_rss_mb"] = peak_mb
        units = dict(PER_LAYER)
    else:
        metrics = _end_to_end(setups, plain)
        units = dict(END_TO_END)

    import duckdb
    import pyspark

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cpus,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "versions": {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "java": java,
        },
        "gen_s": gen_s,
        "peak_rss_mb": peak_mb,
        "setups_s": setups,
        "gate_s": gate_s,
        "passes": len(passes),
        "call_samples": len(calls := [c.wall_s for p in plain for c in p.calls]),
        "call_s.p90": _percentile(calls, 0.9) if calls else None,
        "pass_s": [p.wall_s for p in passes],
        "calls": [{c.name: c.samples for c in p.calls} for p in passes],
        "duckdb_s": [p.duck_s for p in passes],
        "failures": run.failures[:20],
    }
    if args.trace:
        both = _end_to_end(setups, traced), _end_to_end(setups, plain)
        stamp["trace_overhead"] = {
            k: both[0][k] / both[1][k] - 1.0
            for k in ("pass_s", "call_s.p50", "vs_duckdb")
        }
        tracer.write(
            os.path.join(out_dir, f"spans-{run_id}.json"),
            {"stamp": stamp, "per_layer": metrics},
        )
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": metrics[k], "unit": units[k]} for k in units
        },
    }
    kind = "trace" if args.trace else "run"
    with open(os.path.join(out_dir, f"{kind}-{run_id}.json"), "w") as fh:
        json.dump({"stamp": stamp, **result}, fh, indent=1)
    print(json.dumps(stamp), file=sys.stderr)
    for k in units:
        print(f"{k:36s} {metrics[k]:14.6g} {units[k]}")
    print(f"ops_failed_frac {run.failed / max(1, run.attempted):.6g} "
          f"({run.failed}/{run.attempted})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
