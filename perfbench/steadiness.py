"""Steadiness report: run the benchmark once per seed and summarise.

    python3 perfbench/steadiness.py [--workloads dashboard,corpus,etl]
        [--seeds 1-10] [--traced 3] [--out FILE.jsonl]

For every workload and end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the interquartile
range as a share of the median, next to the metric's bound. Runs are
sequential, each in its own process, for ``run_seconds`` from
``BENCHMARK.json``. Raw results are appended to ``--out`` as JSON lines.

With ``--traced N`` it also makes a traced run right after each of the
first N untraced runs of a workload, with the same seed, and reports the
tracing overhead: the median over those pairs of the extra time the traced
run took for ``cold_pass_s`` and for ``warm_ops_per_s``. Pairing the runs
keeps the machine's drift over minutes out of the comparison.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def _run(workload: str, seed: int, trace: int, seconds: int) -> tuple[float, subprocess.CompletedProcess]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    return time.monotonic() - t0, proc


def _traced_figures(stdout: str) -> dict[str, float]:
    """``cold_pass_s`` and ``warm_ops_per_s`` from a traced run's summary."""
    line = next(x for x in stdout.splitlines() if x.startswith("traced "))
    return {k: float(v) for k, v in re.findall(r"(\w+)=([\d.]+)", line)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    parser.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    parser.add_argument("--traced", type=int, default=0,
                        help="traced runs per workload, each paired with the untraced run of its seed")
    parser.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "steadiness.jsonl"))
    args = parser.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    table: dict[str, dict[str, list[float]]] = {}
    overheads: dict[str, dict[str, list[float]]] = {}
    for workload in args.workloads.split(","):
        for i, seed in enumerate(_seeds(args.seeds)):
            elapsed, proc = _run(workload, seed, 0, spec["run_seconds"])
            if proc.returncode != 0:
                print(f"{workload} seed={seed} exited with {proc.returncode}", flush=True)
                continue
            *summary, last = proc.stdout.strip().splitlines()
            result = json.loads(last)
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": workload, "seed": seed, "trace": 0,
                                     "elapsed_s": elapsed, "summary": summary, **result}) + "\n")
            print(f"{workload} seed={seed} {elapsed:.1f}s correct={result['correct']} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
                  flush=True)
            for name, m in result["metrics"].items():
                table.setdefault(workload, {}).setdefault(name, []).append(m["value"])
            if i < args.traced:
                _, traced = _run(workload, seed, 1, spec["run_seconds"])
                if traced.returncode != 0:
                    print(f"{workload} seed={seed} traced run exited with {traced.returncode}", flush=True)
                    continue
                *summary, last = traced.stdout.strip().splitlines()
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": workload, "seed": seed, "trace": 1,
                                         "summary": summary, **json.loads(last)}) + "\n")
                flags = [x for x in summary if x.startswith("FLAG")]
                figures = _traced_figures(traced.stdout)
                # overhead as extra time: a longer pass or a lower throughput
                extra = {"cold_pass_s": figures["cold_pass_s"] / result["metrics"]["cold_pass_s"]["value"],
                         "warm_ops_per_s": result["metrics"]["warm_ops_per_s"]["value"]
                         / figures["warm_ops_per_s"]}
                for name, ratio in extra.items():
                    overheads.setdefault(workload, {}).setdefault(name, []).append(100 * (ratio - 1))
                print(f"{workload} seed={seed} traced " + " ".join(
                    f"{k}={v:.4g}" for k, v in figures.items()) + "".join(f" {f}" for f in flags), flush=True)
    print("\n| workload | metric | n | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for workload, metrics in table.items():
        for name, values in metrics.items():
            if len(values) < 2:
                continue
            med, q1, q3, sp = spread(values)
            print(f"| {workload} | {name} | {len(values)} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                  f"| {sp:.3f} | {bounds[name]} |")
    if overheads:
        print("\n| workload | metric | pairs | tracing overhead, median | min | max |")
        print("|---|---|---|---|---|---|")
    for workload, metrics in overheads.items():
        for name, values in metrics.items():
            print(f"| {workload} | {name} | {len(values)} | {statistics.median(values):+.1f}% "
                  f"| {min(values):+.1f}% | {max(values):+.1f}% |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
