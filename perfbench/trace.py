"""Span tracing for traced benchmark runs.

The tracer times calls into each layer's public functions from outside the
program: a traced run wraps them before its first op, and an untraced run
never loads the wrappers, so it executes the program exactly as shipped. Query modules
import names such as ``table`` and ``materialize_once`` directly, so a
wrapped module-level function is rebound in every ``ug_dwh_etl_spark.*``
module that refers to it.

Spans are kept in memory (name, start, end, parent, op id) and written out
when the run ends. A span's self time is its duration minus the part of it
that its children cover; per op, the self times of all spans add up to the
op's wall time, and what the root span keeps for itself is time no layer
claimed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time
import types
from dataclasses import asdict, dataclass, field

import pyarrow.parquet as pq
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.query import StreamingQuery

_MB = 1024 * 1024
_PACKAGE = "ug_dwh_etl_spark"
# Per op, the share of wall time that no layer span may leave unclaimed;
# a traced run above it is flagged.
UNATTRIBUTED_TOLERANCE_PCT = 2.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    jobs: int = 0  # Spark jobs started while the span was open
    info: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.append((s.end - s.start) - covered)
    return out


class _Progress(StreamingQueryListener):
    """Keeps every micro-batch progress report the session posts."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append(
            {
                "run_id": str(p.runId),
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Records spans and Spark counters for every op of a traced run."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        # held once: every span reads the next job id, and a fresh py4j
        # handle per read would add a round trip and JVM garbage per span
        self._dag = self._sc.dagScheduler()
        self._bus = self._sc.listenerBus()
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._progress = _Progress()
        spark.streams.addListener(self._progress)

    def _next_job(self) -> int:
        return self._dag.nextJobId()

    def _flush(self) -> None:
        self._bus.waitUntilEmpty()

    @contextlib.contextmanager
    def span(self, name: str, **info):
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else -1,
                 op=len(self.ops) - 1, info=info)
        j0 = self._next_job()
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        entered = time.perf_counter()
        try:
            yield s
        finally:
            self._stack.pop()
            leaving = time.perf_counter()
            s.jobs = self._next_job() - j0
            s.end = time.perf_counter()
            if s.parent >= 0:  # the root span's reads lie outside the op's time
                self.ops[-1]["cost_s"] += (entered - s.start) + (s.end - leaving)

    @contextlib.contextmanager
    def op(self, name: str, pass_index: int):
        """Root span of one op; Spark counters are read around it, outside
        its time."""
        self._flush()
        self._progress.events.clear()
        rec = {"name": name, "pass": pass_index, "job0": self._next_job(), "cost_s": 0.0}
        self.ops.append(rec)
        with self.span("op", op_name=name) as root:
            yield rec
        rec["wall_s"] = root.end - root.start
        self._flush()
        rec["job1"] = self._next_job()
        rec["streaming"] = list(self._progress.events)
        rec["exec"] = self._exec_stats(rec["job0"], rec["job1"])

    def query_phases(self, rec: dict, df) -> None:
        """Catalyst phase times of the DataFrame an op collected."""
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            rec[f"catalyst_{phase}_ms"] = opt.get().durationMs() if opt.isDefined() else 0

    def _exec_stats(self, job0: int, job1: int) -> dict:
        store = self._sc.statusStore()
        stage_ids = set()
        for j in range(job0, job1):
            ids = store.job(j).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.length()))
        out = dict.fromkeys(
            ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb"), 0.0)
        out["jobs"] = job1 - job0
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return out

    # -- wrapping ---------------------------------------------------------

    def _in(self, prefix: str) -> bool:
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    def _spanned(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _writer(self, fn):
        """DataFrameWriter calls land files: count them, their bytes and
        rows. Writes that build a ``materialize_once`` artifact belong to
        the artifacts layer, not the sinks."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(writer, path=None, *args, **kwargs):
            if path is None or tracer._in("artifacts."):
                return fn(writer, path, *args, **kwargs)
            t0 = time.perf_counter()
            before = _parquet_files(path)
            t1 = time.perf_counter()
            with tracer.span("sinks.write") as s:
                result = fn(writer, path, *args, **kwargs)
            t2 = time.perf_counter()
            new = {p: n for p, n in _parquet_files(path).items() if p not in before}
            s.info.update(files=len(new), bytes=sum(new.values()),
                          rows=sum(pq.read_metadata(p).num_rows for p in new))
            tracer.ops[-1]["cost_s"] += (t1 - t0) + (time.perf_counter() - t2)
            return result

        return wrapper

    def _artifact(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(spark, sf_dir, name, build):
            from ug_dwh_etl_spark.queries.registry import MATERIALIZE_EVENTS

            with tracer.span("artifacts.materialize") as s:
                result = fn(spark, sf_dir, name, build)
            s.info["built"] = bool(MATERIALIZE_EVENTS and MATERIALIZE_EVENTS[-1]["built"])
            return result

        return wrapper

    def install(self) -> None:
        """Wrap every traced entry point for the rest of the process."""
        from pyspark.sql.classic.dataframe import DataFrame

        from ug_dwh_etl_spark.queries import registry
        from ug_dwh_etl_spark.sinks import writers
        from ug_dwh_etl_spark.sources import readers, rest

        DataFrameReader.parquet = self._spanned("sources.read", DataFrameReader.parquet)
        for attr in ("parquet", "save"):
            setattr(DataFrameWriter, attr, self._writer(getattr(DataFrameWriter, attr)))
        for attr in ("checkpoint", "localCheckpoint"):
            setattr(DataFrame, attr, self._spanned("operators.checkpoint", getattr(DataFrame, attr)))
        for attr in ("persist", "cache"):
            setattr(DataFrame, attr, self._spanned("operators.persist", getattr(DataFrame, attr)))
        for attr in ("awaitTermination", "processAllAvailable"):
            setattr(StreamingQuery, attr, self._spanned("streaming.run", getattr(StreamingQuery, attr)))
        for fn in (registry.table, registry.read_events, *_public(readers), rest.paginated_ingest):
            _rebind(fn, self._spanned("sources.table", fn))
        for fn in _public(writers):
            _rebind(fn, self._spanned("sinks.call", fn))
        _rebind(registry.materialize_once, self._artifact(registry.materialize_once))

    def write(self, path: str) -> None:
        """Spans and op records as JSON lines."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"span": asdict(s)}) + "\n")
            for rec in self.ops:
                fh.write(json.dumps({"op": rec}, default=str) + "\n")

    # -- per-layer metrics -------------------------------------------------

    def layer_metrics(self, passes: set[int]) -> dict[str, float]:
        """Per-layer totals over the ops of ``passes``."""
        ops = {i for i, rec in enumerate(self.ops) if rec["pass"] in passes}
        spans = [(s, t) for s, t in zip(self.spans, self_times(self.spans)) if s.op in ops]
        # outermost span of a layer: its parent belongs to another layer
        def outer(s: Span, layer: str) -> bool:
            return s.parent < 0 or not self.spans[s.parent].name.startswith(layer)

        def self_s(prefix: str) -> float:
            return sum(t for s, t in spans if s.name.startswith(prefix))

        def count(name: str) -> int:
            return sum(1 for s, _ in spans if s.name == name)

        recs = [self.ops[i] for i in sorted(ops)]
        ex = lambda k: sum(r["exec"][k] for r in recs)  # noqa: E731
        artifacts = [s for s, _ in spans if s.name == "artifacts.materialize"]
        built = [s for s in artifacts if s.info["built"]]
        sinks = [s for s, _ in spans if s.name == "sinks.write"]
        rows = sum(s.info["rows"] for s in sinks)
        batches = [e for r in recs for e in r["streaming"]]
        last = {}
        for e in batches:
            last[e["run_id"]] = e
        walls = [r["wall_s"] for r in recs]
        roots = [t for s, t in spans if s.name == "op"]
        return {
            "sources.read_calls": count("sources.read"),
            "sources.read_s": self_s("sources."),
            "sources.read_jobs": sum(s.jobs for s, _ in spans
                                     if s.name.startswith("sources.") and outer(s, "sources.")),
            "queries.build_s": self_s("queries.build"),
            "queries.build_jobs": sum(s.jobs for s, _ in spans if s.name == "queries.build"),
            "catalyst.analysis_ms": sum(r.get("catalyst_analysis_ms", 0) for r in recs),
            "catalyst.optimization_ms": sum(r.get("catalyst_optimization_ms", 0) for r in recs),
            "catalyst.planning_ms": sum(r.get("catalyst_planning_ms", 0) for r in recs),
            "exec.action_s": self_s("exec.action"),
            "exec.jobs": ex("jobs"),
            "exec.stages": ex("stages"),
            "exec.tasks": ex("tasks"),
            "exec.run_s": ex("run_s"),
            "exec.cpu_s": ex("cpu_s"),
            "exec.gc_s": ex("gc_s"),
            "exec.shuffle_read_mb": ex("shuffle_read_mb"),
            "exec.shuffle_write_mb": ex("shuffle_write_mb"),
            "exec.spill_mb": ex("spill_mb"),
            "operators.checkpoints": count("operators.checkpoint"),
            "operators.checkpoint_s": self_s("operators.checkpoint"),
            "operators.persists": count("operators.persist"),
            "artifacts.calls": len(artifacts),
            "artifacts.builds": len(built),
            "artifacts.build_s": sum(t for s, t in spans if s.name == "artifacts.materialize" and s.info["built"]),
            "artifacts.hit_ratio": (len(artifacts) - len(built)) / len(artifacts) if artifacts else 0.0,
            "plans.run_s": self_s("plans."),
            "sinks.write_calls": len(sinks),
            "sinks.write_s": self_s("sinks."),
            "sinks.files_written": sum(s.info["files"] for s in sinks),
            "sinks.bytes_written": sum(s.info["bytes"] for s in sinks),
            "sinks.bytes_per_row": sum(s.info["bytes"] for s in sinks) / rows if rows else 0.0,
            "streaming.run_s": self_s("streaming."),
            "streaming.batches": len(batches),
            "streaming.batch_p50_ms": statistics.median(
                e["duration_ms"].get("triggerExecution", 0) for e in batches) if batches else 0.0,
            "streaming.add_batch_s": sum(e["duration_ms"].get("addBatch", 0) for e in batches) / 1e3,
            "streaming.commit_s": sum(e["duration_ms"].get("walCommit", 0)
                                      + e["duration_ms"].get("commitOffsets", 0) for e in batches) / 1e3,
            "streaming.state_rows": sum(e["state_rows"] for e in last.values()),
            "streaming.state_mem_mb": sum(e["state_bytes"] for e in last.values()) / _MB,
            "trace.in_op_cost_pct": 100.0 * sum(r["cost_s"] for r in recs)
            / sum(r["wall_s"] - r["cost_s"] for r in recs),
            "trace.unattributed_pct": 100.0 * max(
                (t / w for t, w in zip(roots, walls) if w > 0), default=0.0),
        }


def _public(module) -> list:
    """Public functions defined in ``module`` (not imported into it)."""
    return [v for k, v in vars(module).items()
            if not k.startswith("_") and isinstance(v, types.FunctionType)
            and v.__module__ == module.__name__]


def _rebind(old, new) -> None:
    """Point every ``ug_dwh_etl_spark.*`` module attribute that is ``old``
    at ``new``."""
    for name, module in list(sys.modules.items()):
        if module is None or not (name == _PACKAGE or name.startswith(_PACKAGE + ".")):
            continue
        for attr, value in list(vars(module).items()):
            if value is old:
                setattr(module, attr, new)
