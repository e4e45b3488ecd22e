"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q

The last three tests start ``run.py`` (about a minute and a half).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import oracle, run, workloads
from perfbench.child import Runner
from perfbench.trace import Span, _rebind, self_times

ROOT = run.ROOT


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    from ug_dwh_etl_spark.queries import QUERIES

    names = ("q1_pricing_summary", *sorted(set(workloads.APPEND_TABLES.values())
                                           | set(workloads.SNAPSHOT_TABLES.values())))
    oracles = {n: QUERIES[n].oracle for n in names}
    sf_dir = oracle.fixture(str(tmp_path_factory.mktemp("cache")), oracles)
    with open(os.path.join(sf_dir, oracle.DIGESTS)) as fh:
        return sf_dir, oracles, json.load(fh)


def _runner(sf_dir: str, expected: dict) -> Runner:
    return Runner(None, {"sf_dir": sf_dir, "warehouse": ""}, expected)


def test_tampered_result_lowers_ok_frac(fixture):
    sf_dir, oracles, expected = fixture
    import duckdb

    con = duckdb.connect()
    for t in oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    good = con.execute(oracles["q1_pricing_summary"]).fetchdf()
    runner = _runner(sf_dir, expected)
    op = workloads.Op("q1_pricing_summary", "query")
    assert runner.check(op, good)
    assert runner.check(op, good.iloc[::-1].reset_index(drop=True))  # order does not matter
    changed = good.copy()
    number = changed.select_dtypes("number").columns[0]
    changed.loc[0, number] += 1
    dropped = good.iloc[1:]
    renamed = good.rename(columns={good.columns[0]: "other"})
    checks = [runner.check(op, r) for r in (good, changed, dropped, renamed)]
    assert checks == [True, False, False, False]
    ops = [{"pass": 0 if i < 2 else 1, "s": 1.0, "ok": ok} for i, ok in enumerate(checks)]
    e2e = run._end_to_end([1.0], {"ops": ops, "peak_rss_mb": 1.0})
    assert e2e["ok_frac"] == 0.25


def test_etl_row_counts_are_checked(fixture):
    sf_dir, _, expected = fixture
    rows = {n: d["rows"] for n, d in expected.items()}
    runner = _runner(sf_dir, expected)
    day1 = workloads.expected_table_rows(rows, 1, set())
    assert runner.check(workloads.Op("daily_run", "daily"), day1)
    backfill = workloads.Op("backfill_run", "backfill", ("2020-03-01", "2020-04-01"))
    after = workloads.expected_table_rows(rows, 1, set(backfill.dates))
    assert after["bq_images"] == 3 * rows["pipeline_e4_images"]
    assert runner.check(backfill, {t: after[t] for t in workloads.BACKFILLED})
    day2 = workloads.expected_table_rows(rows, 2, set(backfill.dates))
    assert day2["bq_bookings"] == 2 * rows["pipeline_e3_bookings"]
    assert day2["bq_inlinks"] == rows["pipeline_e6_inlinks"]
    assert not runner.check(workloads.Op("daily_run", "daily"), dict(day2, bq_bookings=day2["bq_bookings"] - 1))


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("queries.build", 1.0, 6.0, parent=0),
        Span("sources.read", 2.0, 3.0, parent=1),
        Span("sources.read", 2.5, 4.0, parent=1),  # overlaps its sibling
        Span("exec.action", 6.0, 9.5, parent=0),
        Span("sinks.write", 9.0, 12.0, parent=4),  # runs past its parent
    ]
    assert self_times(spans) == pytest.approx([1.5, 3.0, 1.0, 1.5, 3.0, 3.0])


def test_self_times_of_nested_spans_add_up_to_the_wall_time():
    spans = [
        Span("op", 0.0, 10.0),
        Span("queries.build", 1.0, 6.0, parent=0),
        Span("sources.read", 2.0, 3.0, parent=1),
        Span("sources.table", 3.0, 5.5, parent=1),
        Span("sources.read", 3.5, 5.0, parent=3),
        Span("exec.action", 6.0, 9.5, parent=0),
    ]
    got = self_times(spans)
    assert got == pytest.approx([1.5, 1.5, 1.0, 1.0, 1.5, 3.5])
    assert sum(got) == pytest.approx(10.0)


def test_percentile_needs_ten_samples_beyond():
    assert run.percentile([1.0] * 19, 0.5) is None
    assert run.percentile(list(range(1, 21)), 0.5) == 10
    assert run.percentile(list(range(1, 100)), 0.9) is None
    assert run.percentile(list(range(1, 101)), 0.9) == 90


def test_summary_flags_unattributed_time_over_tolerance():
    import argparse

    args = argparse.Namespace(workload="corpus", seed=1, seconds=15.0, trace=1)
    ops = [{"name": "x", "pass": p, "s": 1.0, "ok": True} for p in (0, 1)]
    result = {"ops": ops, "wall_s": 20.0, "python_rss_mb": 1.0, "jvm_rss_mb": 1.0,
              "peak_rss_mb": 2.0, "jvm_heap_max_mb": 1.0, "jvm_heap_committed_mb": 1.0,
              "jvm_heap_peak_mb": 1.0}

    def flagged(pct: float) -> bool:
        lines = run._summary(args, 1.0, dict(result, layers={"trace.unattributed_pct": pct}))
        return any(line.startswith("FLAG trace.unattributed_pct") for line in lines)

    assert not flagged(1.9)
    assert flagged(2.1)


def test_rebind_reaches_direct_imports():
    from ug_dwh_etl_spark.queries import registry, relational

    original = registry.table
    assert relational.table is original

    def stand_in(*args):
        return None

    _rebind(original, stand_in)
    try:
        assert registry.table is stand_in and relational.table is stand_in
    finally:
        _rebind(stand_in, original)
    assert relational.table is original


def _bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=180,
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("dashboard", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_with_name_and_unit(trace, section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        wanted = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    proc = _bench("corpus", trace)
    assert proc.returncode == 0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 8
    assert {n: m["unit"] for n, m in result["metrics"].items()} == wanted
    for name, unit in wanted.items():
        assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)
