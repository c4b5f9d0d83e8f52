"""Run-to-run spread of the benchmark's metrics over a range of seeds.

    python3 e2ebench/spread.py --workload tpch_sql --seeds 1-10 --seconds 20
    python3 e2ebench/spread.py --workload tpch_sql --seeds 1-5 --seconds 20 --trace both

Runs ``run.py`` once per seed, one run at a time, and prints for each
metric its median, (Q3-Q1)/median from ``statistics.quantiles(n=4)``
and its coefficient of variation, plus ``host.steal_frac`` per run.
``--trace 1`` reports the per-layer metrics, with ``exec.cpu_s`` beside
``exec.s``; ``--trace both`` makes an untraced and a traced run per seed
and adds the tracing overhead: the traced median minus the untraced
median of each end-to-end metric the traced run repeats.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout + proc.stderr)
        raise SystemExit(f"seed {seed}: run.py exited with {proc.returncode}")
    result = json.loads(lines[-1])
    report = dict(line[2:].split(" ", 1) for line in lines[:-1] if line.startswith("# "))
    result["steal"] = float(report["host.steal_frac"])
    return result


def spread(values: list[float]) -> tuple[float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    cv = statistics.stdev(values) / statistics.mean(values) if statistics.mean(values) else 0.0
    return med, (q3 - q1) / med if med else 0.0, cv


def table(runs: list[dict], title: str) -> dict[str, float]:
    print(f"\n{title} ({len(runs)} runs)")
    print(f"{'metric':32} {'median':>14} {'iqr/med':>9} {'cv':>8}  unit")
    medians = {}
    for name, first in runs[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in runs]
        med, iqr, cv = spread(values)
        medians[name] = med
        print(f"{name:32} {med:14.6g} {iqr:9.4f} {cv:8.4f}  {first['unit']}  "
              + " ".join(f"{v:.4g}" for v in values))
    if "exec.s" in medians:
        for name in ("exec.s", "exec.cpu_s"):
            _, iqr, cv = spread([r["metrics"][name]["value"] for r in runs])
            print(f"  {name:10} iqr/med {iqr:.4f}  cv {cv:.4f}")
    return medians


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = p.parse_args(argv)
    modes = (0, 1) if args.trace == "both" else (int(args.trace),)

    runs: dict[int, list[dict]] = {m: [] for m in modes}
    for seed in seeds(args.seeds):
        for mode in modes:
            r = one_run(args.workload, seed, args.seconds, mode)
            runs[mode].append(r)
            print(f"seed {seed} trace {mode}: attempted {r['attempted']} failed {r['failed']} "
                  f"steal {r['steal']:.4f}", flush=True)
    medians = {m: table(runs[m], f"{args.workload} trace={m}") for m in modes}
    if args.trace == "both":
        print("\ntracing overhead (traced median - untraced median)")
        for name in ("latency_geomean_s", "calls_per_s"):
            traced, untraced = medians[1][f"traced.{name}"], medians[0][name]
            print(f"  {name:16} {traced - untraced:+.6g} ({(traced - untraced) / untraced:+.2%})")
    failed = sum(r["failed"] for m in modes for r in runs[m])
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
