#!/usr/bin/env python3
"""Crawl benchmark for crawler_spark.

    python3 perfbench/run.py [--workload NAME|all] [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. Each workload generates its corpus from
``--seed`` (sources.synth.gen_corpus), hands the engine only the
generated tables, runs crawl units at local[nproc] until ``--seconds``
have passed, and checks every unit's warehouse (check.py). It prints
each metric with its unit, a line with the raw environment, and last a
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run then repeats the measurement untraced, so it
can report its own overhead. Scratch files live in perfbench/.work
and are removed on exit.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import crawler_spark  # noqa: E402,F401  (fails outside a repository checkout)
import pyspark  # noqa: E402

from layers import Probe, layer_metrics, metric_units  # noqa: E402
from spans import Tracer, fold_event_log  # noqa: E402
from workloads import SPECS, Workload  # noqa: E402

SETUP_REPS = 3
# a unit starts only while the run is younger than this, so a run stays
# far below the 180 s a benchmark run may take
HARD_STOP_S = 100.0
END_TO_END = {
    "urls_per_s": "URL/s", "round_p50_s": "s", "setup_s": "s",
    "bytes_per_page": "B", "peak_rss_mb": "MB",
}


# ------------------------------------------------------------------ env
def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def environment(args) -> dict:
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "loadavg": os.getloadavg(), "steal_ticks": steal_ticks(),
        "pyspark": pyspark.__version__, "python": platform.python_version(),
    }


def start_spark(work: Path, cores: int, event_log: Path | None = None):
    from crawler_spark.session import get_spark

    tmp = work / "tmp"
    conf = {
        # set either way: a second context in the same JVM inherits the first one's settings
        "spark.eventLog.enabled": str(event_log is not None).lower(),
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf |= {
            # keep whole scan locations in the plan, to tell seen and pages scans apart
            "spark.sql.maxMetadataStringLength": "4096",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, jvm_too: bool = True) -> None:
    """Stop the session; with ``jvm_too`` also end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if jvm_too and gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_kb) / 1024


# -------------------------------------------------------------- measure
class Tally:
    """Rounds and output checks attempted, and those that failed."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.messages: list[str] = []

    def add_unit(self, unit) -> None:
        self.attempted += len(unit.rounds) + len(unit.checks)
        for name, msg in unit.checks.items():
            if msg is not None:
                self.failed += 1
                self.messages.append(f"check {name}: {msg}")

    def add_crash(self, exc_text: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.messages.append(exc_text)


def measure(wl: Workload, seconds: float, tally: Tally, t_start: float, on_unit=None) -> list:
    """Run units until ``seconds`` have passed (at least one unit)."""
    units = []
    t0 = time.perf_counter()
    while not units or (
        time.perf_counter() - t0 < seconds and time.perf_counter() - t_start < HARD_STOP_S
    ):
        try:
            unit = wl.run_unit()
        except Exception:
            tally.add_crash(traceback.format_exc())
            break
        tally.add_unit(unit)
        if on_unit is not None:
            on_unit(unit)
        shutil.rmtree(unit.warehouse)
        units.append(unit)
    return units


def end_to_end(units, setups: list[float], spark) -> dict[str, float]:
    return {
        "urls_per_s": sum(u.scheduled for u in units) / sum(u.crawl_s for u in units),
        "round_p50_s": statistics.median(r["wall_s"] for u in units for r in u.rounds),
        "setup_s": statistics.median(setups),
        "bytes_per_page": statistics.median(u.warehouse_bytes / u.pages for u in units),
        "peak_rss_mb": peak_rss_mb(spark),
    }


def run_untraced(spec, args, work: Path, cores: int, tally: Tally, t_start: float):
    spark = start_spark(work, cores)
    try:
        wl = Workload(spec, spark, args.seed, str(work / "plain"))
        prepares = []
        for rep in range(SETUP_REPS if not args.trace else 1):
            if rep:
                wl.release()
            t0 = time.perf_counter()
            wl.prepare()
            prepares.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.seed_crawl()
        crawl_s = time.perf_counter() - t0
        setups = [p + crawl_s for p in prepares]
        units = measure(wl, args.seconds, tally, t_start)
        metrics = end_to_end(units, setups, spark) if units else {}
    finally:
        stop_spark(spark)
    return metrics, units, setups


def run_traced(spec, args, work: Path, cores: int, tally: Tally, t_start: float):
    """The traced half of a --trace 1 run; the JVM stays up for the
    untraced half that follows."""
    event_log = work / "eventlog"
    spark = start_spark(work, cores, event_log)
    try:
        tracer = Tracer(spark.sparkContext)
        probe = Probe(tracer)
        wl = Workload(spec, spark, args.seed, str(work / "traced"), hooks=probe.instrument)
        with tracer.installed():
            with tracer.span("setup"):
                wl.prepare()
                wl.seed_crawl()
            probe.start()
            units = measure(wl, args.seconds, tally, t_start, on_unit=probe.end_unit)
    finally:
        stop_spark(spark, jvm_too=False)
    (log,) = list(event_log.iterdir())
    groups, jobs = fold_event_log(str(log))
    return tracer, probe, groups, jobs, units


def seconds_per_url(units) -> float:
    return sum(u.crawl_s for u in units) / sum(u.scheduled for u in units)


# ----------------------------------------------------------------- main
def run_workload(name: str, args, cores: int) -> tuple[dict, Tally]:
    spec = SPECS[name]
    tally = Tally()
    t_start = time.perf_counter()
    work = HERE / ".work" / f"{name}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR if the default was already cached
    # the short-lived JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    metrics, units, setups = {}, [], []
    try:
        if args.trace:
            # traced half first: the JVM keeps warming up over the run, so
            # the untraced half runs warmer and the overhead errs high
            tracer, probe, groups, jobs, units = run_traced(
                spec, args, work, cores, tally, t_start
            )
            _, plain, _ = run_untraced(spec, args, work, cores, tally, t_start)
            metrics = (
                layer_metrics(tracer, probe, groups, jobs, units, cores, seconds_per_url(plain))
                if units and plain
                else {}
            )
        else:
            metrics, units, setups = run_untraced(spec, args, work, cores, tally, t_start)
    except Exception:
        # a failure outside a unit (corpus preparation, the set-up crawl)
        tally.add_crash(traceback.format_exc())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"== {name}: {spec.why}")
    units_of = metric_units() if args.trace else END_TO_END
    for key, value in metrics.items():
        print(f"  {key:<48} {value:>14.4f} {units_of[key]}")
    if not args.trace and units:
        print(
            f"  round_p50_s: median of {sum(len(u.rounds) for u in units)} rounds; setup_s: "
            f"median of {len(setups)} corpus preparations plus the set-up crawl"
        )
    frac = tally.failed / max(tally.attempted, 1)
    print(f"  {'failed_frac':<48} {frac:>14.4f} ratio ({tally.failed} of {tally.attempted})")
    for msg in tally.messages:
        print(f"  FAILED {msg}")
    return {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()}, tally


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1].strip())
    ap.add_argument("--workload", default="all", choices=[*SPECS, "all"])
    ap.add_argument("--seed", type=int, default=42)
    # benchmark runs pass BENCHMARK.json's run_seconds (10) here; its
    # bounds were set at that value
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    if args.workload == "all":
        return run_all(args)
    # a stuck run must still end inside the 180 s a benchmark run may take
    faulthandler.dump_traceback_later(170, exit=True)
    env = environment(args)
    metrics, tally = run_workload(args.workload, args, cores)
    env["steal_ticks_end"] = steal_ticks()
    env["loadavg_end"] = os.getloadavg()
    print("env " + json.dumps(env))
    print(
        json.dumps(
            {"correct": tally.failed == 0 and tally.attempted > 0,
             "attempted": tally.attempted, "failed": tally.failed, "metrics": metrics}
        )
    )
    return 0


def run_all(args) -> int:
    """Each workload in its own process (pyspark cannot start a second JVM
    in one process, and peak RSS is per process); one combined result."""
    metrics, attempted, failed = {}, 0, 0
    for name in SPECS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        *lines, last = proc.stdout.strip().splitlines() or [""]
        print("\n".join(lines))
        try:
            result = json.loads(last) if proc.returncode == 0 else None
        except json.JSONDecodeError:
            result = None
        if result is None:
            # the workload's process died without a result: one failed item
            print(f"  FAILED {name}: exit code {proc.returncode}, no result")
            attempted += 1
            failed += 1
            continue
        metrics |= {f"{name}.{k}": v for k, v in result["metrics"].items()}
        attempted += result["attempted"]
        failed += result["failed"]
    print(
        json.dumps(
            {"correct": failed == 0 and attempted > 0, "attempted": attempted,
             "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
