"""One measured process: set up a session, run the passes, record results.

``run.py`` starts this module in a fresh interpreter per run and reads the
JSON it writes. Usage: ``python3 -m perfbench.child CONFIG.json``.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

from perfbench import oracle, workloads
from perfbench.trace import Tracer


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _steal_s() -> float:
    """Core-seconds of hypervisor steal since boot, all cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class _Untraced:
    """Stands in for the tracer in untraced runs."""

    def span(self, name: str, **info):
        return contextlib.nullcontext()

    def op(self, name: str, pass_index: int):
        return contextlib.nullcontext({})


_UNTRACED = _Untraced()


def _matches(expected: dict, result) -> bool:
    try:
        return oracle.digest(result) == expected
    except TypeError:  # a cell the correctness gate cannot compare
        return False


class Runner:
    """Runs ops against one session and checks each result."""

    def __init__(self, spark, cfg: dict, expected: dict[str, dict]) -> None:
        from ug_dwh_etl_spark.plans.daily import backfill_run, daily_run
        from ug_dwh_etl_spark.queries import QUERIES

        self.spark = spark
        self.sf_dir = cfg["sf_dir"]
        self.warehouse = cfg["warehouse"]
        self.expected = expected
        self.queries = QUERIES
        self.daily_run, self.backfill_run = daily_run, backfill_run
        self.days = 0
        self.backfill_dates: set[str] = set()

    def run(self, op: workloads.Op, pass_index: int, tracer) -> tuple[float, bool]:
        """Time one op; return (seconds, result matched its oracle)."""
        df = None
        # the tracer reads Spark's counters on entry and exit of ``op``,
        # outside the op's own time
        with tracer.op(op.name, pass_index) as rec:
            t0 = time.perf_counter()
            try:
                if op.kind == "query":
                    with tracer.span("queries.build"):
                        df = self.queries[op.name].fn(self.spark, self.sf_dir)
                    with tracer.span("exec.action"):
                        result = df.toPandas()
                elif op.kind == "daily":
                    with tracer.span("plans.run"):
                        result = self.daily_run(self.spark, self.sf_dir, self.warehouse)
                else:
                    with tracer.span("plans.run"):
                        result = self.backfill_run(
                            self.spark, self.sf_dir, self.warehouse, list(op.dates))
            except Exception as exc:  # a failed op counts against ok_frac
                print(f"op {op.name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                return time.perf_counter() - t0, False
            seconds = time.perf_counter() - t0
        if df is not None and isinstance(tracer, Tracer):
            tracer.query_phases(rec, df)
        return seconds, self.check(op, result)

    def check(self, op: workloads.Op, result) -> bool:
        if op.kind == "query":
            return _matches(self.expected[op.name], result)
        rows = {name: d["rows"] for name, d in self.expected.items()}
        if op.kind == "daily":
            self.days += 1
            want = workloads.expected_table_rows(rows, self.days, self.backfill_dates)
            return result == want
        self.backfill_dates.update(op.dates)
        want = workloads.expected_table_rows(rows, self.days, self.backfill_dates)
        return result == {t: want[t] for t in workloads.BACKFILLED}


# The per-layer figures cover the cold pass and the first warm pass.
LAYER_PASSES = {0, 1}


def _heap_mb(spark) -> dict[str, float]:
    """The driver JVM's heap: its ceiling (``-Xmx``), what is committed at
    exit, and the sum of the heap pools' peak use, an upper bound of the
    peak live heap (the pools peak at different moments)."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    heap = jvm.java.lang.management.MemoryType.HEAP
    peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType() == heap)
    return {
        "jvm_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 1024**2,
        "jvm_heap_committed_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 1024**2,
        "jvm_heap_peak_mb": peak / 1024**2,
    }


def main(cfg: dict) -> dict:
    from ug_dwh_etl_spark.queries import QUERIES  # noqa: F401 — imports every query module
    from ug_dwh_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    # warm-up: one parquet read collected through Arrow, no op
    spark.read.parquet(os.path.join(cfg["sf_dir"], "region.parquet")).toPandas()
    t2 = time.perf_counter()
    out = {
        "ready_at": time.time(),
        "session.start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
    }

    with open(cfg["oracle"]) as fh:
        expected = json.load(fh)
    runner = Runner(spark, cfg, expected)
    tracer = None
    if cfg["trace"]:
        tracer = Tracer(spark)
    steal0 = _steal_s()
    ops, run_start = [], time.perf_counter()
    if tracer is not None:
        tracer.install()
    for passes in range(1 + workloads.WARM_PASSES[cfg["workload"]]):
        for op in workloads.pass_ops(cfg["workload"], cfg["seed"], passes):
            seconds, ok = runner.run(op, passes, tracer or _UNTRACED)
            ops.append({"name": op.name, "pass": passes, "s": seconds, "ok": ok})
            print(f"pass={passes} op={op.name} s={seconds:.3f} ok={ok}", file=sys.stderr)
    out["wall_s"] = time.perf_counter() - run_start
    out["ops"] = ops
    out["host.steal_core_s"] = _steal_s() - steal0
    if tracer is not None:
        out["layers"] = tracer.layer_metrics(LAYER_PASSES)
        tracer.write(cfg["trace_out"])
    out["python_rss_mb"] = _vm_hwm_mb("self")
    out["jvm_rss_mb"] = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    out["peak_rss_mb"] = out["python_rss_mb"] + out["jvm_rss_mb"]
    out.update(_heap_mb(spark))
    return out


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        config = json.load(fh)
    result = main(config)
    with open(config["result"], "w") as fh:
        json.dump(result, fh)
    # Everything is measured: skip the session's orderly shutdown. run.py
    # kills the process group (the JVM and Python workers) and waits for it.
    os._exit(0)
