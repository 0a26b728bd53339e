#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates the workload's inputs
from the seed under ``.perfbench_work/`` (removed at exit). Set-up is
cold and timed once: from process start through the JVM launch and
SparkSession creation, the inputs, and one warm-up unit on throwaway
state (``setup_s``). The run then measures the workload's closed loop
for ``--seconds`` (stopping at the next unit boundary), checks the
outputs, and prints two lines: a detail record (environment, input
properties and the workload's own named figures) and, last, the result
object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``. With ``--trace 1`` Spark starts with its event log
on and the run sets a job group per call; the metrics
are the per-layer ones, and the tracing overhead comes from a shorter
untraced phase run afterwards. Workloads, metrics and the layer each
per-layer figure should move are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "airflow_crypto_etl_spark"
DRIVER_MEMORY = "4g"
# the end-to-end metrics of an untraced run, in BENCHMARK.json order
END_TO_END = ("setup_s", "op_p50_s", "units_per_s")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_env(work: str) -> None:
    """Environment every Spark process of the run inherits: the repo on
    the Python workers' path (the media UDFs import the package), the
    core count, and scratch space inside the checkout (the launcher JVM
    would otherwise write its perf-data file under /tmp)."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_spark(work: str, event_dir: str | None = None):
    from airflow_crypto_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
        ),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)  # must exist before the context starts
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",  # the zstandard reader is absent
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(
        app_name="perfbench", master=f"local[{nproc()}]", driver_memory=DRIVER_MEMORY, extra_conf=conf
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm(spark) -> None:
    """Stop the session, close the py4j gateway and wait for the JVM to
    exit (it exits on EOF of its stdin); the next session launches a
    new one."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def env_record() -> dict:
    import numpy
    import pyspark

    from bench import _calibrate

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": nproc(),
        "loadavg": load,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "calibration_s": _calibrate(),
    }


def run_phase(spark, wl, tracer, root: str, seconds: int, traced: bool) -> tuple[float, bool]:
    """One measured phase; returns (wall seconds, completed without an
    exception). An exception ends the phase: the span that raised is
    already marked failed."""
    t0 = time.perf_counter()
    try:
        wl.measure(spark, tracer, root, t0 + seconds, traced)
        ok = True
    except Exception:  # noqa: BLE001 - counted as a failed op, run continues to report
        traceback.print_exc(file=sys.stderr)
        ok = False
    return time.perf_counter() - t0, ok


def headline(spans, wl, net: bool = False) -> list[float]:
    """The headline unit latencies; with ``net``, less the probe spans
    a traced run adds."""
    from spans import net_seconds

    return [net_seconds(spans, i) if net else s.seconds for i, s in enumerate(spans) if s.name == wl.HEADLINE]


def main(argv: list[str]) -> int:
    started, age = time.perf_counter(), process_age_s()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import layers
    from spans import Tracer, parse_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_env(work)
    event_dir = os.path.join(work, "eventlog")
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, args.seconds)
        t0 = time.perf_counter()
        spark = start_spark(work, event_dir if args.trace else None)
        session_s = time.perf_counter() - t0
        props = wl.generate(os.path.join(work, "inputs"))
        wl.warmup(spark, os.path.join(work, "warmup"))
        setup_s = age + time.perf_counter() - started  # from process start

        tracer = Tracer(spark if args.trace else None)
        wall, phase_ok = run_phase(spark, wl, tracer, os.path.join(work, "phase"), args.seconds, bool(args.trace))
        checks = wl.check(spark) if phase_ok else []
        peak_rss = jvm_peak_rss_mb(spark)

        ops = [s for s in tracer.spans if s.parent is None]
        attempted = len(ops) + len(checks)
        failed = sum(not s.ok for s in ops) + sum(not ok for _, ok, _ in checks)
        lat = headline(tracer.spans, wl)
        named = wl.detail(tracer.spans) | {
            "failed_ratio": (failed / attempted if attempted else 1.0, "ratio"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        if args.trace:
            extra = (wl.stage_counts(spark) if hasattr(wl, "stage_counts") else {}) | {"peak_rss_mb": peak_rss}
            spark.stop()
            log = parse_event_log(glob.glob(os.path.join(event_dir, "*"))[0])
            metrics = layers.per_layer(wl, tracer.spans, log, wall, session_s, extra)
            # Untraced reference for the overhead, half as long and after
            # the traced phase: JIT warming can then only inflate the
            # overhead, never hide it. The restarted session's Python
            # workers and caches are cold, so it warms up first.
            spark = start_spark(work)
            wl.warmup(spark, os.path.join(work, "warmup_untraced"))
            ref = Tracer()
            run_phase(spark, wl, ref, os.path.join(work, "phase_untraced"), args.seconds // 2, False)
            overhead = statistics.median(headline(tracer.spans, wl, net=True)) - statistics.median(headline(ref.spans, wl))
            metrics["trace.overhead_s"] = (overhead, "s")
        else:
            values = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(lat), "s"),
                "units_per_s": (len(lat) / wall, "1/s"),
            }
            metrics = {k: values[k] for k in END_TO_END}
        stop_jvm(spark)
        spark = None
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "env": env_record(),
            "inputs": props,
            "measured_s": wall,
            "unit_s": lat,
            "session_s": session_s,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "failed_checks": [(n, d) for n, ok, d in checks if not ok],
        }
        print(json.dumps(detail))
        result = {
            "correct": phase_ok and failed == 0 and bool(lat),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent, once no other run uses it
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
