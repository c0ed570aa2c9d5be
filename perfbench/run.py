"""Seeded benchmark for hbase_increment_index_spark.

    python3 perfbench/run.py --workload {search,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The run builds its inputs from the
seed, sets up through the library's public calls, then runs a closed
loop with one client until the timed operations add up to ``--seconds``
and the workload has run its minimum number of steps.
Every answer is checked afterwards, outside the timed region.

Standard output carries a human-readable report (host settings, input
properties and every metric with its unit and sample count); its last
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the Spark event log is switched on from outside the
program and the metrics are the per-layer span metrics.

Scratch files live under ``.bench_work/`` in the checkout and are
removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hbase_increment_index_spark"

#: end-to-end metrics on every workload (name → unit)
E2E = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "mem_mb": "MB"}


def host_config(work: str) -> dict[str, str]:
    """Fit Spark to this host: every core, a quarter of RAM (at most
    2 GiB) for the driver heap, spill space inside the checkout."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem_kb // 4096)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    }


def submit_args(work: str, traced: bool) -> str:
    """spark-submit options set from outside the program: scratch space
    in the checkout, and for traced runs an uncompressed event log."""
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    return " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))


def jvm_live_mb(spark) -> float:
    """Memory the Spark JVM holds after a full garbage collection: heap
    and class metadata, what the program keeps whatever size the heap
    has. The JIT code cache is left out: its size follows JIT timing."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    # Spark's cleaner thread drops the blocks of broadcasts, shuffles and
    # checkpoints a collection found unreachable, and only a later
    # collection frees them: collect until the reading settles
    used = None
    for _ in range(6):
        jvm.java.lang.System.gc()
        now = sum(p.getUsage().getUsed() for p in pools if not p.getName().startswith("CodeHeap")) / 2**20
        if used is not None and abs(now - used) < 1.0:
            break
        used = now
        time.sleep(0.2)
    return now


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, work: str) -> tuple[list[str], dict]:
    cfg = host_config(work)
    for d in ("tmp", "eventlog", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(cfg)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(work, args.trace == 1)

    import spans
    import workloads
    from hbase_increment_index_spark.session import get_spark

    tracer = spans.Tracer(traced=args.trace == 1)
    sizes = (workloads.TOY_SIZES if args.scale == "toy" else workloads.SIZES)[args.workload]
    wl = workloads.WORKLOADS[args.workload](args.seed, work, tracer, sizes)
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    tracer.attach(spark)
    try:
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        live_mb = jvm_live_mb(spark)
        timed, steps = 0.0, 0
        while timed < args.seconds or steps < wl.min_steps:
            timed += wl.step()
            steps += 1
        live_mb = max(live_mb, jvm_live_mb(spark))
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        py_mb = vm_hwm_kb("self") / 1024
        rss_mb = py_mb + vm_hwm_kb(jvm_pid) / 1024
    finally:
        stop_spark(spark)
    wl.check()

    e2e = {
        "setup_s": (setup_s, "s", 1),
        "mem_mb": (py_mb + live_mb, "MB", 2),
        "mem_python_peak_mb": (py_mb, "MB", 1),
        "mem_jvm_live_mb": (live_mb, "MB", 2),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }
    e2e.update(wl.summary(timed))
    e2e["failed_frac"] = (len(wl.failures) / wl.attempted, "fraction", wl.attempted)
    groups = spans.job_group_metrics(os.path.join(work, "eventlog")) if args.trace else None
    layers = spans.layer_metrics(spans.per_call_metrics(tracer.records, groups))
    units = spans.layer_metric_units()

    lines = [
        f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} scale={args.scale}",
        "config " + json.dumps(cfg, sort_keys=True),
        "inputs " + json.dumps(wl.properties, sort_keys=True),
        f"timed_s {timed:.6f} tail_percentile p{workloads.TAIL_PCT}",
    ]
    lines += [f"metric {k} {v:.6g} {u} n={n}" for k, (v, u, n) in e2e.items()]
    if args.trace:
        lines += [f"layer {k} {v:.6g} {units[k]} n={n}" for k, (v, n) in layers.items()]
    lines += [f"failure {f}" for f in wl.failures[:20]]

    if args.trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, (v, _) in layers.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in E2E.items()}
    result = {
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": metrics,
    }
    return lines, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "toy"], default="full", help="toy: tiny inputs for smoke tests")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        lines, result = measure(args, work)
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
