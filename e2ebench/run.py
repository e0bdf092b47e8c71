"""End-to-end benchmark of the engine. Run from the repository root:

    python3 e2ebench/run.py --workload research_queries --seed 1 --seconds 8 --trace 0

Prints detail lines, then one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones of a traced run (Spark event log on, wrappers installed). See
``e2ebench/README.md`` for the workloads and every metric's definition.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Untimed units before the timed window: the cold one and one warm one.
# Walls keep falling for a few more units (see README), but the run budget
# holds no more; the recorded walls and half medians show what is left.
WARMUP_UNITS = 2


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return (cpu[7] if len(cpu) > 7 else 0), sum(cpu[:8])


def host_sample() -> dict:
    """Load average, plus the wall of a fixed pure-Python loop and the CPU
    steal share while it ran: a slow run with a slow probe and no steal
    points at the host, not the program."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    s0, n0 = _cpu_jiffies()
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    probe_s = time.perf_counter() - t
    s1, n1 = _cpu_jiffies()
    return {"load1": load1, "probe_s": probe_s, "steal_share": (s1 - s0) / max(1, n1 - n0),
            "jiffies": (s1, n1)}


def peak_rss_mb(pid: int | None) -> float:
    """Peak RSS (VmHWM) of this process plus ``pid``, in MB."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if pid is not None:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024
    return total


def start_session(workdir: str, trace: bool):
    """The benchmark's pinned Spark session: task slots at half the CPUs,
    a small fixed driver heap, every scratch directory under ``workdir``."""
    from at_data_pipelines_spark.session import get_spark

    slots = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(workdir, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(workdir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="e2ebench", cpus=slots, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, slots


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def medians(ops) -> dict[str, float]:
    kinds = sorted({op.kind for op in ops})
    return {k: statistics.median(op.wall for op in ops if op.kind == k) for k in kinds}


def drive(wl, seconds: float, trace: bool) -> dict:
    """Warm up, then run whole units until ``seconds`` have passed."""
    warm = [wl.unit(n, timed=False, trace_mode=trace) for n in range(WARMUP_UNITS)]
    n = WARMUP_UNITS
    t0 = time.perf_counter()
    timed_units = []
    min_units = wl.trace_min_units if trace else wl.min_units
    while len(timed_units) < min_units or time.perf_counter() - t0 < seconds:
        timed_units.append(wl.unit(n, timed=True, trace_mode=trace))
        n += 1
    return {"warmup_unit_walls": warm, "timed_unit_walls": timed_units, "t_timed": t0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "at_data_pipelines_spark")):
        print(f"e2ebench: the engine package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"e2ebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".e2ebench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    host0 = host_sample()
    spark = None
    try:
        t = time.perf_counter()
        spark, slots = start_session(workdir, bool(args.trace))
        session_start_s = time.perf_counter() - t
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        t = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, workdir, args.seed, tracer)
        inputs_s = time.perf_counter() - t
        run = drive(wl, args.seconds, bool(args.trace))
        setup_s = run["t_timed"] - T_START
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb(int(jvm_pid))
        t = time.perf_counter()
        verdicts, selftest_ok = wl.check()
        check_s = time.perf_counter() - t
        if tracer is not None:
            tracer.uninstall()
        stop_session(spark)
        spark = None
        host1 = host_sample()

        timed = [op for op in wl.ops if op.timed]
        untraced = [op for op in timed if not op.traced]
        per_kind = medians(untraced)
        half = len(timed) // 2
        if args.trace:
            import layers

            logs = os.listdir(os.path.join(workdir, "events"))
            metrics = layers.summarize(
                wl.ops, tracer, os.path.join(workdir, "events", logs[0]), session_start_s,
                getattr(wl, "backfill_span", None),
            )
            metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in metrics.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_gmean_s": {"value": statistics.geometric_mean(per_kind.values()), "unit": "s"},
                "pass_s": {"value": sum(per_kind.values()), "unit": "s"},
                "peak_rss_mb": {"value": rss, "unit": "MB"},
                "output_kb_per_op": {"value": statistics.fmean(op.out_bytes for op in timed) / 1024, "unit": "KB"},
            }
        (s0, n0), (s1, n1) = host0.pop("jiffies"), host1.pop("jiffies")
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "task_slots": slots,
            "session_start_s": session_start_s, "inputs_s": inputs_s, "check_s": check_s,
            "warmup_unit_walls_s": run["warmup_unit_walls"],
            "timed_unit_walls_s": run["timed_unit_walls"],
            "timed_samples_per_kind": {k: sum(1 for op in untraced if op.kind == k) for k in per_kind},
            "median_wall_per_kind_s": per_kind,
            "first_half_median_s": statistics.median(op.wall for op in timed[:half]) if half else None,
            "second_half_median_s": statistics.median(op.wall for op in timed[half:]),
            "selftest_falsified_result_failed": selftest_ok,
            "host": {"start": host0, "end": host1, "run_steal_share": (s1 - s0) / max(1, n1 - n0)},
        }
        print(json.dumps({"detail": detail}))
        failed = sum(1 for v in verdicts if not v)
        print(json.dumps({
            "correct": failed == 0 and selftest_ok,
            "attempted": len(verdicts),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        parent = os.path.dirname(workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
