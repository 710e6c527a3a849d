"""Steadiness report: run one workload N times and summarise the spread.

    python3 perfbench/report.py --workload <name> [--runs 10] [--seed 1]
                                [--seconds <s>] [--traced]

Run from the root of a checkout. Runs ``perfbench/run.py`` once per
seed (``--seed``, ``--seed + 1``, ...) one after another and prints, for
every end-to-end metric, the median, the quartiles and their distance
as a share of the median (the figure the bounds in ``BENCHMARK.json``
are set against), and the min/max spread. With ``--traced`` it also
makes one traced run per seed, reports the per-layer metrics the same
way, and prints each end-to-end metric's traced-vs-untraced change: the
tracing overhead.
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
E2E_LINE = re.compile(r"^e2e (\S+) (\S+) ")


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result line, end-to-end values from the metric block)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: workload={workload} seed={seed} trace={trace} rc={proc.returncode}")
    e2e = {m.group(1): float(m.group(2)) for m in map(E2E_LINE.match, lines) if m}
    return json.loads(lines[-1]), e2e


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else float("nan"),
        "min": min(values),
        "max": max(values),
    }


def table(title: str, samples: dict[str, list[float]]) -> None:
    print(f"\n{title}")
    print(f"{'metric':48} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'min':>12} {'max':>12}")
    for name, values in samples.items():
        s = spread(values)
        print(
            f"{name:48} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
            f"{s['iqr_share']:8.3f} {s['min']:12.4f} {s['max']:12.4f}"
        )


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int)
    p.add_argument("--traced", action="store_true")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    plain: dict[str, list[float]] = {}
    extra: dict[str, list[float]] = {}
    traced_e2e: dict[str, list[float]] = {}
    layers: dict[str, list[float]] = {}
    for i in range(args.runs):
        seed = args.seed + i
        result, e2e = one_run(args.workload, seed, seconds, 0)
        print(f"seed {seed}: " + json.dumps(result), flush=True)
        for name, value in e2e.items():
            extra.setdefault(name, []).append(value)
        for name, m in result["metrics"].items():
            plain.setdefault(name, []).append(m["value"])
        if args.traced:
            result, e2e = one_run(args.workload, seed, seconds, 1)
            print(f"seed {seed} traced: attempted={result['attempted']} failed={result['failed']}", flush=True)
            for name, value in e2e.items():
                traced_e2e.setdefault(name, []).append(value)
            for name, m in result["metrics"].items():
                layers.setdefault(name, []).append(m["value"])

    table(f"{args.workload}: end-to-end, {args.runs} runs of {seconds} s", plain)
    table("printed end-to-end figures", extra)
    for name, values in plain.items():
        share = spread(values)["iqr_share"]
        print(f"  {name}: iqr/median {share:.3f} vs bound {bounds[name]} (third of bound {bounds[name] / 3:.3f})")
    if args.traced:
        table(f"{args.workload}: per-layer (traced runs)", layers)
        print("\ntracing overhead (traced median vs untraced median)")
        for name, values in plain.items():
            a, b = statistics.median(values), statistics.median(traced_e2e[name])
            print(f"  {name}: untraced {a:.4f} traced {b:.4f} change {(b - a) / a:+.1%}")


if __name__ == "__main__":
    main()
