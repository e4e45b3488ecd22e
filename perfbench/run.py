"""Benchmark of the program's public entry points, end to end.

    python3 perfbench/run.py --workload {dashboard,corpus,etl} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. One closed-loop client issues one op at a
time against ``local[<cores>]`` Spark (``SPARK_GRAFT_CPUS`` = cores) with a
1g driver heap. The run makes a cold pass over the workload's ops, then
the workload's fixed number of warm passes, and checks every result against
its DuckDB oracle. The amount of work is fixed, so ``--seconds`` does not
change it: the summary says when the timed run ended before ``--seconds``.

With ``--trace 0`` the last stdout line reports the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run; the names and
units are the ones ``BENCHMARK.json`` lists. Every run uses a fresh child
process with private temp, Spark-local, warehouse and checkpoint
directories under ``.perfbench/``, removed at exit. A copy of the fixture
tables and their oracle digests is cached under ``.perfbench/cache``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import oracle, workloads  # noqa: E402
from perfbench.trace import UNATTRIBUTED_TOLERANCE_PCT  # noqa: E402

CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "1g"
CHILD_TIMEOUT_S = 150
STATE_DIR = os.path.join(ROOT, ".perfbench")


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` quantile, or None when fewer than ten samples
    lie beyond it."""
    xs = sorted(values)
    rank = math.ceil(q * len(xs))
    if len(xs) - rank < 10:
        return None
    return xs[rank - 1]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill every process of the child's group (the child, its JVM and
    Python workers) and wait until all have exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()  # reap the child, or it stays in the group as a zombie
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _child(cfg: dict, env: dict, workspace: str) -> tuple[float, dict]:
    """Run ``perfbench.child`` once; return (set-up seconds, its result)."""
    cfg = dict(cfg, result=os.path.join(workspace, "result.json"))
    cfg_path = os.path.join(workspace, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    spawned = time.time()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.child", cfg_path],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    finally:
        _kill_group(proc)
    if code != 0:
        raise RuntimeError(f"benchmark process exited with {code}")
    with open(cfg["result"]) as fh:
        result = json.load(fh)
    return result["ready_at"] - spawned, result


def _end_to_end(setup_s: float, result: dict) -> dict[str, float]:
    ops = result["ops"]
    cold = [o["s"] for o in ops if o["pass"] == 0]
    warm = [o["s"] for o in ops if o["pass"] > 0]
    return {
        "setup_s": setup_s,
        "cold_pass_s": sum(cold),
        "warm_ops_per_s": len(warm) / sum(warm),
        "ok_frac": sum(o["ok"] for o in ops) / len(ops),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def _per_layer(result: dict) -> dict[str, float]:
    return {
        **result["layers"],
        "session.start_s": result["session.start_s"],
        "session.warmup_s": result["session.warmup_s"],
        "host.steal_core_s": result["host.steal_core_s"],
        "jvm.heap_peak_mb": result["jvm_heap_peak_mb"],
    }


def _summary(args, setup_s: float, result: dict) -> list[str]:
    warm = [o["s"] for o in result["ops"] if o["pass"] > 0]
    lines = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"cores={CORES} driver_mem={DRIVER_MEM} passes={1 + max(o['pass'] for o in result['ops'])}",
        f"wall_s={result['wall_s']:.3f}"
        f" python_rss_mb={result['python_rss_mb']:.1f} jvm_rss_mb={result['jvm_rss_mb']:.1f}"
        f" jvm_heap_max_mb={result['jvm_heap_max_mb']:.0f}"
        f" jvm_heap_committed_mb={result['jvm_heap_committed_mb']:.0f}"
        f" jvm_heap_peak_mb={result['jvm_heap_peak_mb']:.0f}",
    ]
    if result["wall_s"] < args.seconds:
        lines.append(f"NOTE the fixed passes took {result['wall_s']:.1f} s, less than --seconds")
    if args.trace:
        e2e = _end_to_end(setup_s, result)
        lines.append(f"traced cold_pass_s={e2e['cold_pass_s']:.3f} warm_ops_per_s={e2e['warm_ops_per_s']:.4f}")
        unattributed = result["layers"]["trace.unattributed_pct"]
        if unattributed > UNATTRIBUTED_TOLERANCE_PCT:
            lines.append(f"FLAG trace.unattributed_pct={unattributed:.2f} exceeds the "
                         f"{UNATTRIBUTED_TOLERANCE_PCT:g}% tolerance")
    for name, q in (("op_p50_s", 0.5), ("op_p90_s", 0.9)):
        value = percentile(warm, q)
        shown = "suppressed (fewer than 10 samples beyond)" if value is None else f"{value:.4f} s"
        lines.append(f"{name}={shown} n_warm={len(warm)}")
    for o in result["ops"]:
        if not o["ok"]:
            lines.append(f"FAILED pass={o['pass']} op={o['name']}")
    return lines


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    spec = _spec()

    from ug_dwh_etl_spark.queries import QUERIES

    sf_dir = oracle.fixture(
        os.path.join(STATE_DIR, "cache"),
        {n: QUERIES[n].oracle for n in workloads.ORACLE_NAMES},
    )
    workspace = os.path.join(STATE_DIR, f"run-{os.getpid()}")
    try:
        dirs = {d: os.path.join(workspace, d) for d in ("tmp", "local", "warehouse", "spark-warehouse")}
        for d in dirs.values():
            os.makedirs(d)
        env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
        env.update(
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            SPARK_GRAFT_WAREHOUSE=dirs["spark-warehouse"],
            SPARK_GRAFT_CPUS=str(CORES),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            # the JVM's own temp files (native libraries, session artifacts)
            # and its perf-counter file would otherwise land in /tmp
            SPARK_SUBMIT_OPTS=" ".join(
                o for o in (env.get("SPARK_SUBMIT_OPTS"),
                            f"-Djava.io.tmpdir={dirs['tmp']}", "-XX:-UsePerfData") if o),
        )
        os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": bool(args.trace),
            "sf_dir": sf_dir,
            "warehouse": dirs["warehouse"],
            "oracle": os.path.join(sf_dir, oracle.DIGESTS),
            "trace_out": os.path.join(STATE_DIR, "traces", f"{args.workload}-{args.seed}.jsonl"),
        }
        setup_s, result = _child(cfg, env, workspace)
    finally:
        shutil.rmtree(workspace, ignore_errors=True)

    if args.trace:
        values, wanted = _per_layer(result), spec["per_layer"]
    else:
        values, wanted = _end_to_end(setup_s, result), spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for line in _summary(args, setup_s, result):
        print(line)
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    failed = sum(not o["ok"] for o in result["ops"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(result["ops"]),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
