"""Registry plumbing for the paired Spark-query / DuckDB-oracle surface."""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ug_dwh_etl_spark.sources.readers import read_parquet

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Entry:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, None → rows-only driver check


QUERIES: dict[str, Entry] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = Entry(fn=fn, oracle=oracle)
        return fn

    return deco


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Events ``ts`` as TIMESTAMP (LTZ), batch or stream.

    The generator has shipped events.ts as both TIMESTAMP(NANOS), which
    ``read_parquet`` reads as long nanoseconds, and TIMESTAMP(MICROS),
    which arrives as TIMESTAMP_NTZ. Long nanos are converted; NTZ is cast
    to LTZ, which watermarks require and which, with the session pinned
    to UTC, keeps the wall-clock values of DuckDB's naive read."""
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture, tolerant of its timestamp physical type."""
    return normalize_event_ts(read_parquet(spark, f"{sf_dir}/events.parquet"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# Every materialize_once call appends {"name", "built", "secs"} here —
# bench.py reads this to (a) price each artifact BUILD as its own line
# and (b) mark which queries consume memoized artifacts, so best-of-2
# warm timings can't masquerade as the artifact's cost (round-8 verdict:
# graph_label_propagation "0.087s" was a parquet read of a 9.8s build).
MATERIALIZE_EVENTS: list[dict] = []


# The ``mat_<name>_<pid>`` directories this process created; an exit hook
# removes them, so artifacts do not pile up in the temp dir across runs.
_MAT_DIRS: set[str] = set()


def _remove_mat_dirs(pid: int) -> None:
    if os.getpid() != pid:  # a forked child inherits the hook, not the dirs
        return
    for d in _MAT_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def materialize_once(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Compute-once-read-everywhere for derived relations several
    queries share (the link-graph edge table, the LPA partition, the ER
    closure): ``build()`` runs the first time a (process, sf_dir, name)
    triple is seen and its result is written to a per-process parquet
    path; every later caller reads the parquet. This is the warehouse
    posture at 100 TB — a shared derived artifact is materialized by
    the first pipeline that needs it and JOINED by the rest, not
    re-derived per query. Per-process + per-sf_dir keying keeps driver
    rounds, gates, and scale probes isolated from each other; the
    per-process directories are removed when the process exits."""
    proc_dir = os.path.join(tempfile.gettempdir(), f"mat_{name}_{os.getpid()}")
    path = os.path.join(proc_dir, sfdir_key(sf_dir))
    built = not os.path.exists(os.path.join(path, "_SUCCESS"))
    t0 = time.perf_counter()
    if built:
        if not _MAT_DIRS:
            atexit.register(_remove_mat_dirs, os.getpid())
        _MAT_DIRS.add(proc_dir)
        build().write.mode("overwrite").parquet(path)
    MATERIALIZE_EVENTS.append(
        {
            "name": name,
            "built": built,
            "secs": round(time.perf_counter() - t0, 3) if built else 0.0,
        }
    )
    return read_parquet(spark, path)


def sfdir_key(sf_dir: str) -> str:
    """Collision-proof per-sf_dir path segment for per-process work dirs
    (sha1 of the FULL path — basename keying collides across scale-probe
    mode dirs that share a leaf like 'x4')."""
    return hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
