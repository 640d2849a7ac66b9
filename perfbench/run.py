"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_refresh --seed 1 --seconds 12 --trace 0

Runs one workload of the package in the checkout that holds this directory:
starts a local Spark session, builds the workload's state from the seed in a
private warehouse under ``.perfbench_work/``, runs untimed warm-up cycles,
then a fixed number of timed cycles (one client, closed loop), checks every
op's output against a reference computed outside the package, and prints
one JSON object as the last line of standard output. ``--trace 1`` runs the
same cycles, rounded up to an odd count of at least three, traces every
second one, and reports the per-layer metrics instead; its spans go to
``.perfbench_out/``. See perfbench/README.md."""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "iceberg_rust_custom_spark"
DRIVER_MEM = "2g"
# Spark task threads. Two leave the other CPUs of a small host to the Python
# process and the JVM's compiler and GC threads; on a 4-vCPU host they were
# no slower than four and spread less from run to run.
SPARK_CPUS = 2


def _cpus() -> int:
    return min(SPARK_CPUS, len(os.sched_getaffinity(0)))


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _sentinel(spark) -> float:
    """The fixed single-task job of bench.py: its cost does not depend on
    the code under test, so a drift in it is contention on the host."""
    t0 = time.perf_counter()
    spark.range(30_000_000, numPartitions=1).selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
    return time.perf_counter() - t0


def _start_session(workdir: str):
    from iceberg_rust_custom_spark import get_spark

    tmp = os.path.join(workdir, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
            # the session's 45 s periodic full GC would land in whichever
            # cycle is running at that moment; collect before each cycle
            # instead (run() does), outside the clock
            "spark.cleaner.periodicGC.interval": "1h",
        },
    )


def _stop_children() -> None:
    """Terminate and reap every child process still running: the JVM, after
    a finished run as after an error or SIGTERM, also one still starting."""
    pids: set[int] = set()
    for task in os.listdir("/proc/self/task"):
        with open(f"/proc/self/task/{task}/children") as f:
            pids.update(int(p) for p in f.read().split())
    deadline = time.monotonic() + 30
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.1)
        except (ProcessLookupError, ChildProcessError):
            pass  # already gone, or reaped by subprocess


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(workload: str, seed: int, seconds: int, trace: bool, workdir: str) -> tuple[dict, dict]:
    from harness import Harness
    from workloads import WORKLOADS

    cls = WORKLOADS[workload]
    n_cycles = max(1, round(seconds / cls.nominal_cycle_s))
    if trace:
        # plain, traced, plain, ...: every traced cycle between two plain ones
        n_cycles = max(3, n_cycles | 1)

    t_setup = time.perf_counter()
    from iceberg_rust_custom_spark import Engine

    spark = _start_session(workdir)
    phases = {"session_s": time.perf_counter() - t_setup}
    try:
        h = Harness(spark)
        wl = cls(spark, h, workdir, seed)
        ref_error: list[BaseException] = []

        def _refs():
            try:
                wl.references()
            except Exception as e:  # re-raised in the main thread below
                ref_error.append(e)

        refs = threading.Thread(target=_refs, name="references")
        refs.start()
        wl.setup(Engine(spark, warehouse=os.path.join(workdir, "wh")))
        phases["build_s"] = time.perf_counter() - t_setup - phases["session_s"]
        refs.join()
        phases["references_wait_s"] = time.perf_counter() - t_setup - sum(phases.values())
        if ref_error:
            raise RuntimeError(f"reference computation failed: {ref_error[0]!r}")
        # the sentinel runs before the warm-up, so whatever it leaves behind
        # (compiled code, garbage) settles before the clock starts
        t_sentinel = time.perf_counter()
        _sentinel(spark)  # compiles its code, as bench.py does
        sentinel_start = _sentinel(spark)
        t_sentinel = time.perf_counter() - t_sentinel
        fresh = []
        for i in range(cls.warmup_cycles + n_cycles):
            measured = i >= cls.warmup_cycles
            if i == cls.warmup_cycles:
                setup_s = time.perf_counter() - t_setup - t_sentinel
                phases["warmup_s"] = setup_s - sum(phases.values())
                warm_failed = h.failed
                steal0 = _cpu_steal()
            traced = trace and measured and (i - cls.warmup_cycles) % 2 == 1
            gc.collect()
            spark._jvm.System.gc()
            with h.cycle(measured=measured, traced=traced):
                wl.cycle(i)
            if measured:
                fresh.append(wl.fresh_lag(h.op_times[-1]))
        steal1 = _cpu_steal()
        wl.final_checks()
        sentinel_end = _sentinel(spark)
        rss_mb = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)) / 1024.0
    finally:
        spark.stop()

    from stats import bracketed_ratio, median

    plain = [t for traced, t in h.cycles if not traced]
    traced_walls = [t for traced, t in h.cycles if traced]
    if trace:
        import layers

        layers.write_spans(
            h.layer_tracer, os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed{seed}.json")
        )
        values = layers.layer_metrics(
            h.layer_tracer,
            len(traced_walls),
            h.spark_stats,
            h.construct_jobs,
            h.traced_phase_s,
            wl.details.get("files_pruned_ratio", 0.0),
            bracketed_ratio(h.cycles),
        )
        metrics = {name: _metric(values[name], unit) for name, unit in layers.PER_LAYER}
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "cycle_p50_s": _metric(median(plain), "s"),
            "rows_per_s": _metric(wl.rows_per_cycle * len(plain) / sum(plain), "1/s"),
            "peak_rss_mb": _metric(rss_mb, "MB"),
            "fresh_lag_p50_s": _metric(median(fresh), "s"),
        }
    details = {
        "workload": workload,
        "seed": seed,
        "cycles": n_cycles,
        "setup_phases_s": phases,
        "warmup_cycles": cls.warmup_cycles,
        "cycle_s": plain,
        "traced_cycle_s": traced_walls,
        "op_s": h.op_times,
        "rows_per_cycle": wl.rows_per_cycle,
        "sentinel_start_s": sentinel_start,
        "sentinel_end_s": sentinel_end,
        # share of CPU time the hypervisor gave to others during the timed cycles
        "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "warmup_failed": warm_failed,
        "failures": h.failures,
        **wl.details,
    }
    result = {"correct": h.failed == 0, "attempted": h.attempted, "failed": h.failed, "metrics": metrics}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        raise RuntimeError(f"non-finite metrics: {bad}")
    return result, details


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest_refresh", "scan_curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if os.environ.get("PYTHONHASHSEED") != "0":
        # fixed string hashing, so set and dict orders inside the package
        # (and the plans built from them) repeat from run to run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "tmp"),
            "TMPDIR": os.path.join(workdir, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    try:
        result, details = run(args.workload, args.seed, args.seconds, bool(args.trace), workdir)
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _stop_children()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run is using it
    print(json.dumps({"details": details}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
