"""CDC apply benchmark: one workload, one seed, one measurement window.

    python3 perfbench/run.py --workload tail_cow --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see workloads.py): tail_cow,
stream_mor_view, and backfill (the 1-core scaling baseline).
``--cores N`` sets the local Spark width (default: the CPUs this process
may use).

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics.
``--trace 1`` measures twice as many steps, every other one with span
wrappers around the apply path's public callables (see trace.py), and
reports per-layer metrics plus the tracing overhead. The line before it
is a report: the pinned environment, phase timings, per-step samples,
sample counts and which percentile each ``_tail`` metric is.

Set-up (feed generation and preload) runs three times on fresh
directories and ``setup_s`` is their median; warm-up applies follow.
All scratch data lives under ``.perfbench_work/`` in the checkout and is
removed at exit. Exits 1 if the output check fails, 2 if the engine
package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
HEAP_YOUNG = "512m"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["backfill", "tail_cow", "stream_mor_view"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    return p.parse_args(argv)


def pin_environment(work: Path, cores: int) -> dict[str, str]:
    """Set every environment knob the engine's session factory reads,
    so runs do not depend on the caller's shell or /dev/shm headroom."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        # a quarter of the host's memory, at most 4 GiB
        "SPARK_DRIVER_MEM": f"{max(1, min(4, kib // 2**20 // 4))}g",
        "TMPDIR": str(work / "tmp"),
        # no JVM perf-data files outside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "PYSPARK_PYTHON": sys.executable,
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: context for host speed."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def peak_rss_mb(jvm_pid: int | None) -> float:
    kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            kib += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kib / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(w, reads, setup_s, write_bytes, stored, rss) -> tuple[dict, dict]:
    """The untraced run's metrics, and their sample counts for the report."""
    from perfbench import stats

    events = w.events
    commit = stats.summarize(w.commit_s)
    read = stats.summarize(reads)
    fresh = stats.summarize(w.freshness_s)
    metrics = {
        "setup_s": metric(statistics.median(setup_s), "s"),
        "apply_events_per_s": metric(events / sum(w.commit_s), "1/s"),
        "freshness_s_p50": metric(fresh["p50"], "s"),
        "freshness_s_p99": metric(stats.percentile(w.freshness_s, 99.0), "s"),
        "commit_s_p50": metric(commit["p50"], "s"),
        "commit_s_tail": metric(commit["tail"], "s"),
        "read_s_p50": metric(read["p50"], "s"),
        "read_s_tail": metric(read["tail"], "s"),
        "write_bytes_per_event": metric(write_bytes / events, "B"),
        "stored_bytes_per_row": metric(stored, "B"),
        "peak_rss_mb": metric(rss, "MB"),
    }
    samples = {
        "setup_s": {"n": len(setup_s), "stat": "median"},
        "apply_events_per_s": {"n": events, "apply_s": sum(w.commit_s)},
        "freshness_s_p50": {"n": fresh["n"]},
        "freshness_s_p99": {"n": fresh["n"], "percentile": "p99"},
        "commit_s_p50": {"n": commit["n"]},
        "commit_s_tail": {"n": commit["n"], "percentile": commit["tail_pct"]},
        "read_s_p50": {"n": read["n"]},
        "read_s_tail": {"n": read["n"], "percentile": read["tail_pct"]},
        "write_bytes_per_event": {"n": events, "bytes": write_bytes},
        "stored_bytes_per_row": {"n": 1},
        "peak_rss_mb": {"n": 1},
    }
    return metrics, samples


def layer_metrics(w, tracer, log, n_buckets: int) -> dict[str, float]:
    """The traced steps' per-layer metrics, plus per-batch facts from
    the engine's own checkpoint records and the tracing overhead."""
    from perfbench import trace

    traced = [(a, b) for a, b, t in w.steps if t]
    out = trace.layer_metrics(tracer.spans, log, traced)
    out["table.current.calls"] = tracer.counts["table.current"]
    recs = [r for r in w.records if not r.get("fenced") and not r.get("bootstrap")]
    frac = [len(r["touched_buckets"]) / n_buckets for r in recs]
    out["merge.touched_bucket_frac"] = statistics.mean(frac) if frac else 0.0
    rewritten = [r for r in recs if r.get("rows_written") is not None]
    events = sum(r["offset_end"] - r["offset_start"] + 1 for r in rewritten)
    out["merge.rows_rewritten_per_event"] = (
        sum(r["rows_written"] for r in rewritten) / events if events else 0.0
    )
    # mean step time, traced steps over untraced ones (per step, not per
    # event: a late trigger's batch grows with the step before it)
    mean = {
        t: statistics.mean(b - a for a, b, u in w.steps if u == t) for t in (True, False)
    }
    out["trace.overhead"] = mean[True] / mean[False]
    return out


def run(args, work: Path, env: dict) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    import pyspark
    from pyspark import SparkContext

    from perfbench import trace
    from perfbench.workloads import WORKLOADS, Ctx, footprint
    from omniparser_spark.session import get_spark

    calib = calibrate()
    os.makedirs(work / "eventlog")
    t = time.time()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{args.cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.scheduler.listenerbus.eventqueue.capacity": "100000",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed heap and young generation: G1's adaptive sizing
            # otherwise swings peak RSS by a third between identical runs
            "spark.driver.extraJavaOptions": (
                f"-Xms{env['SPARK_DRIVER_MEM']} -Xmn{HEAP_YOUNG}"
            ),
        },
    )
    session_s = time.time() - t
    proc = getattr(SparkContext._gateway, "proc", None)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            **env, "nproc": len(os.sched_getaffinity(0)), "cores": args.cores,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "calibration_s": calib,
        },
        "session_start_s": session_s,
    }
    tracer = trace.Tracer(spark.sparkContext) if args.trace else None
    try:
        ctx = Ctx(spark, str(work / "data"), args.seed, args.cores,
                  windows=2 if args.trace else 1)
        wl = WORKLOADS[args.workload](ctx, args.seconds)
        setup_s = []
        for rep in range(SETUP_REPS):
            t = time.time()
            wl.setup(rep)
            setup_s.append(time.time() - t)
        report["setup_s"] = setup_s
        t = time.time()
        wl.warm_up()
        report["warm_up_s"] = time.time() - t
        # a traced run interleaves traced and untraced steps over twice
        # the window, so each half sees about one window of steps
        w = wl.measure(args.seconds * ctx.windows, tracer)
        reads = wl.read() if not args.trace else []
        t = time.time()
        errors = wl.check()
        stored = footprint(wl.table())
        report["check_s"] = time.time() - t
        rss = peak_rss_mb(proc.pid if proc is not None else None)
    finally:
        stop_spark(spark)

    logs = sorted((work / "eventlog").iterdir())
    with open(logs[-1]) as f:
        log = trace.parse_event_log(f)
    report["window"] = {
        **w.info, "seconds": w.end - w.start, "steps": len(w.steps),
        "commit_s": w.commit_s, "read_s": w.read_s,
    }
    report["reads_s"] = reads
    report["errors"] = errors
    attempted = len(w.commit_s) + len(w.read_s) + len(reads) + 1
    if args.trace:
        metrics = layer_metrics(w, tracer, log, wl.N_BUCKETS)
        out = {k: metric(v, _layer_unit(k)) for k, v in sorted(metrics.items())}
    else:
        write_bytes = trace.output_bytes(log, trace.jobs_in_window(log, [(w.start, w.end)]))
        out, report["samples"] = end_to_end(
            w, w.read_s or reads, setup_s, write_bytes, stored, rss,
        )
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": out,
    }
    return result, report


def _layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("bytes"):
        return "B"
    if field in ("calls", "jobs", "tasks"):
        return "count"
    return "ratio"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "omniparser_spark" / "__init__.py").is_file():
        print("perfbench: no omniparser_spark package in this checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = pin_environment(work, args.cores)
    try:
        result, report = run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # unless another run still uses it
        except OSError:
            pass
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
