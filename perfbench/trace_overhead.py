"""Tracing overhead: untraced vs traced medians of every end-to-end metric.

    python3 perfbench/trace_overhead.py --seeds 1 2 3

For each workload in BENCHMARK.json and each seed this runs the
benchmark for its ``run_seconds`` twice, once with
``--trace 0`` and once with ``--trace 1``, alternating which goes first.
The traced runs print the same end-to-end report lines, so the
difference between the two medians is what tracing costs. Also prints
the traced runs' per-layer medians.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)
LINE = re.compile(r"^(metric|layer) (\S+) (\S+) (\S+) n=(\d+)$")


def run(workload: str, seed: int, seconds: int, trace: int) -> dict[str, dict[str, float]]:
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} trace {trace} failed:\n{proc.stderr[-2000:]}")
    out: dict[str, dict[str, float]] = {"metric": {}, "layer": {}}
    for line in proc.stdout.splitlines():
        m = LINE.match(line)
        if m:
            out[m.group(1)][m.group(2)] = float(m.group(3))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()
    report = {}
    for workload in (w["name"] for w in SPEC["workloads"]):
        runs = {0: [], 1: []}
        for k, seed in enumerate(args.seeds):
            for trace in ((0, 1) if k % 2 == 0 else (1, 0)):
                runs[trace].append(run(workload, seed, SPEC["run_seconds"], trace))
        e2e = {}
        for name in runs[0][0]["metric"]:
            off = statistics.median(r["metric"][name] for r in runs[0])
            on = statistics.median(r["metric"][name] for r in runs[1] if name in r["metric"])
            e2e[name] = {
                "untraced": off,
                "traced": on,
                "overhead": on - off,
                "overhead_share": (on - off) / off if off else None,
            }
            print(f"{workload} {name} untraced={off:.6g} traced={on:.6g} overhead={on - off:+.6g}")
        layers = {
            name: statistics.median(r["layer"][name] for r in runs[1])
            for name in runs[1][0]["layer"]
        }
        report[workload] = {"seeds": args.seeds, "end_to_end": e2e, "per_layer_traced_median": layers}
    print(json.dumps(report, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
