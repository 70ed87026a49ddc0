"""Benchmark harness: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run it from the repository root (see perfbench/NOTES.md for why).  The last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Lines before it give each timing's
median, sample count and supported percentile, and the pinned host
settings.  A full record of the run lands in ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, "perfbench", ".work")
CORES = 4
DRIVER_MEM = "2g"
UNTRACED_PASSES = 2
WARMUP_PASSES = 2


def pin_host() -> dict:
    """Host settings ``session.get_spark`` reads, pinned for every run.

    The session's default 48g driver heap is more than this class of host
    has (15 GB, no swap); local dirs and temp files stay in the work dir."""
    settings = {
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_MASTER": f"local[{CORES}]",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    # every JVM (launcher and driver): temp files in the work dir, and no
    # hsperfdata file, which the JVM would otherwise write under /tmp
    settings["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={settings['TMPDIR']}"
    for d in (settings["SPARK_LOCAL_DIRS"], settings["TMPDIR"]):
        shutil.rmtree(d, ignore_errors=True)  # left over from an earlier run
        os.makedirs(d)
    os.environ.update(settings)
    return settings


def host_record(settings: dict) -> dict:
    import platform

    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        **settings,
    }


def session(extra: dict | None = None):
    from manga_translator_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra or {})}
    return get_spark(app="perfbench", master=f"local[{CORES}]", extra=conf)


def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def shutdown_jvm(timeout_s: float = 60) -> None:
    """Stop the py4j gateway JVM and wait until every process this run
    started (the JVM and the Python workers it forked) has exited."""
    from pyspark import SparkContext

    from perfbench.rss import descendants

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Run:
    """Counts calls and verification checks; keeps the first errors."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def verify(self, name: str, fn, n_checks: int = 1) -> None:
        """Run ``n_checks`` checks that return their error strings; checks
        that raise count as failed too."""
        try:
            errs = fn()
        except Exception:
            errs = [f"{name} raised:\n{traceback.format_exc(limit=3)}"]
        self.attempted += n_checks
        self.failed += min(len(errs), n_checks)
        self.errors.extend(errs[: 10 - len(self.errors)])

    def call(self, name: str, fn) -> bool:
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(f"{name} raised:\n{traceback.format_exc(limit=3)}")
            return False


def timed_passes(wl, spark, run: Run, seconds: float, tracer=None, min_passes: int = 1) -> list[float]:
    """Repeat passes until ``seconds`` of pass time or ``min_passes``,
    whichever comes later.  Output checks run between passes, off the clock."""
    from contextlib import nullcontext

    calls = wl.calls(spark)
    times: list[float] = []
    spent = 0.0
    while spent < seconds or len(times) < min_passes:
        ok = True
        with tracer.span("pass") if tracer else nullcontext():
            t0 = time.perf_counter()
            for name, fn in calls:
                with tracer.span(name) if tracer else nullcontext():
                    ok &= run.call(name, fn)
            dt = time.perf_counter() - t0
        spent += dt
        if not ok:
            break
        times.append(dt)
        run.verify("output check", lambda: wl.after_pass(spark))
    return times


def warm_up(wl, spark, run: Run) -> float | None:
    """The warm-up: the workload's small-table calls (their outputs are
    verified later), then ``WARMUP_PASSES`` untimed passes over the timed
    inputs, so the JIT has compiled the hot paths before the first timed
    pass.  Returns the seconds spent checking outputs between those passes,
    which the caller takes off its clock, or None when a call raised.  The
    caller checks the last pass's output itself."""
    if not run.call("warmup", lambda: wl.warmup(spark)):
        return None
    checks_s = 0.0
    for k in range(WARMUP_PASSES):
        if k:
            t0 = time.perf_counter()
            run.verify("output check", lambda: wl.after_pass(spark))
            checks_s += time.perf_counter() - t0
        if not all(run.call(name, fn) for name, fn in wl.calls(spark)):
            return None
    return checks_s


def untraced(wl, seed: int, seconds: float, run: Run) -> tuple[dict, dict]:
    from perfbench.rss import PeakRss
    from perfbench.stats import median, summarize

    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = session()
        t1 = time.perf_counter()
        wl.stage(spark, WORK, seed)  # outside every clock
        t2 = time.perf_counter()
        checks_s = warm_up(wl, spark, run)
        if checks_s is None:
            spark.stop()
            return {}, {}
        setup_s = (t1 - t0) + (time.perf_counter() - t2 - checks_s)
        run.verify("output check", lambda: wl.after_pass(spark))
        run.verify("twin check", lambda: wl.verify(WORK, seed), wl.n_checks)
        passes = timed_passes(wl, spark, run, seconds)
        spark.stop()
    if not passes:
        return {}, {}
    run_s = median(passes)
    metrics = {
        "docs_per_s": (wl.n_rows / run_s, "docs/s"),
        "run_s": (run_s, "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    detail = {"run_s": summarize(passes), "passes": passes, "setup_s": setup_s}
    return metrics, detail


def traced(wl, seed: int, seconds: float, run: Run) -> tuple[dict, dict]:
    import glob

    from perfbench import layers, trace
    from perfbench.stats import median

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    t0 = time.perf_counter()
    spark = session(event_log_conf(log_dir))
    get_spark_s = time.perf_counter() - t0
    tracer = trace.Tracer(spark)
    wl.stage(spark, WORK, seed)
    with tracer.span("warmup"):
        ok = warm_up(wl, spark, run) is not None
    if not ok:
        spark.stop()
        return {}, {}
    run.verify("output check", lambda: wl.after_pass(spark))
    run.verify("twin check", lambda: wl.verify(WORK, seed), wl.n_checks)
    wl.records.clear()  # per-pass records of the traced passes only
    passes = timed_passes(wl, spark, run, seconds, tracer=tracer, min_passes=2)
    probes = {}
    if passes:
        run.call("probe", lambda: probes.update(wl.probe(spark, tracer)))
    spark.stop()
    if len(passes) < 2 or not probes:
        return {}, {}
    (log,) = glob.glob(os.path.join(log_dir, "*"))
    per_span = trace.attribute(trace.read_event_log(log))

    # the same passes with the event log off: tracing overhead
    spark = session({"spark.eventLog.enabled": "false"})
    plain = []
    if warm_up(wl, spark, run) is not None:
        run.verify("output check", lambda: wl.after_pass(spark))
        plain = timed_passes(wl, spark, run, 0, min_passes=UNTRACED_PASSES)
    spark.stop()
    if not plain:
        return {}, {}
    # the untraced session runs in a JVM the traced passes already warmed,
    # so compare it with the traced passes after the first
    overhead_s = median(passes[1:]) - median(plain)

    values = dict.fromkeys(layers.UNITS, 0.0)
    values.update(wl.layers(tracer, per_span, probes))
    values.update(layers.common(tracer, per_span, get_spark_s, overhead_s))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "results", f"spans_{wl.name}_seed{seed}.json"))
    metrics = {k: (float(v), layers.UNITS[k]) for k, v in values.items()}
    detail = {"traced_passes": passes, "untraced_passes": plain, "per_span": per_span}
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "manga_translator_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the repository root; manga_translator_spark/ "
              "and __spark_entry__.py not found in the working directory", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    settings = pin_host()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    run = Run()
    mode = traced if args.trace else untraced
    try:
        metrics, detail = mode(wl, args.seed, args.seconds, run)
    finally:
        shutdown_jvm()
    correct = bool(metrics) and run.failed == 0

    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host_record(settings), "attempted": run.attempted, "failed": run.failed,
        "failed_share": run.failed / max(run.attempted, 1), "errors": run.errors,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, "detail": detail,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{wl.name}_seed{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for err in run.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    print("host: " + json.dumps(record["host"], sort_keys=True))
    for k, s in detail.items():
        if isinstance(s, dict) and "median" in s:
            print(f"{k}: " + json.dumps(s))
    print(f"failed_share: {record['failed_share']:.4f} ({run.failed}/{run.attempted})")
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if metrics else max(run.failed, 1),
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
