"""Scan operators (SURVEY.md §2.1 S1-S2, S5).

The reference infers every schema with ``pd.read_csv(low_memory=False)``;
at 100 TB inference means an extra full pass, so readers here take an
explicit StructType whenever the source is registered, falling back to
header-based inference for ad-hoc files. Name normalization (P7) happens
at this boundary so everything downstream sees warehouse-convention names.

Parquet tables are read through ``read_parquet`` only. Plain
``spark.read.parquet(path)`` launches a footer-reading Spark job on every
call, which at dashboard sizes costs more than the query's own scan. The
first read of a path in a session runs Spark's normal inference and keeps
the resulting StructType; later reads pass it back through
``spark.read.schema(...)`` and launch no job. The schema is never
hard-coded, and no DataFrame is shared between reads (a reused plan
would make self-joins such as ``nation n1 / nation n2`` ambiguous).

Cache key and invalidation: entries are kept per session (weakly, so they
die with it) and per absolute path, together with the path's stamp:
``(mtime_ns, size)`` of a file, or the sorted ``(relative path, mtime_ns,
size)`` of every data file under a directory (names starting with ``.`` or
``_`` are skipped, as Spark skips them). A read whose stamp differs from the
cached one (a rewritten file, an appended part file) infers again. Paths
the local filesystem cannot stat (remote URIs, globs, missing paths) are
never cached, so Spark reports them as usual.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ug_dwh_etl_spark.functions.names import normalize_names

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    sep: str = ",",
    encoding: str = "UTF-8",
    normalize: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S1/S2 — CSV scan. ``sep=';'`` + latin-1 covers the reference's
    Midoco feed (`Midoco/product_data.py:56`). Explicit schema keeps the
    scan single-pass and the types stable.

    ``mode`` controls malformed-row policy (the reference's inferred
    feeds drift): PERMISSIVE nulls bad fields (add a
    ``_corrupt_record`` StringType field to the schema to capture the
    raw line for quarantine), DROPMALFORMED discards, FAILFAST aborts
    the job at first bad row."""
    reader = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("mode", mode)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    return normalize_names(df) if normalize else df


# session -> {absolute path: (stamp, inferred StructType)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stamp(path: str) -> tuple | None:
    """What a rewrite or append of ``path`` changes; None when the local
    filesystem cannot stat it."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for name in names:
                if not name.startswith((".", "_")):
                    full = os.path.join(root, name)
                    fst = os.stat(full)
                    files.append((os.path.relpath(full, path), fst.st_mtime_ns, fst.st_size))
        return tuple(sorted(files))
    except OSError:
        return None


def _infer(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the one fallback the fixtures need: a
    TIMESTAMP(NANOS) column (pyarrow's ``timestamp[ns]``), which Spark
    rejects unless ``nanosAsLong`` is set; it is then read as long
    nanoseconds. Every other error (a missing or corrupt file) raises."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() != "PARQUET_TYPE_ILLEGAL" or "TIMESTAMP(NANOS" not in str(exc):
            raise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that infers the schema once per session and path
    (module docstring: cache key and invalidation)."""
    key, stamp = os.path.abspath(path), _stamp(path)
    hit = _SCHEMAS.get(spark, {}).get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = _infer(spark, path)
    if stamp is not None:
        _SCHEMAS.setdefault(spark, {})[key] = (stamp, df.schema)
    return df


def read_json(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """S5 — JSON records source (the reference consumes REST JSON into
    record lists, `Audisto/audisto.py:61-82`)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    """Load the synthetic star schema from a scale-factor directory."""
    return {name: read_parquet(spark, f"{sf_dir}/{name}.parquet") for name in names}


def read_text(
    spark: SparkSession, path: str, whole: bool = False, normalize_col: str = "value"
) -> DataFrame:
    """Line-oriented text scan (one row per line; ``whole=True`` gives
    one row per file) — the raw-corpus entry point for the text/dedup
    operators when documents arrive as flat files rather than parquet."""
    df = spark.read.option("wholetext", whole).text(path)
    return df.withColumnRenamed("value", normalize_col)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: StructType | None = None,
) -> DataFrame:
    """XML scan via Spark 4's built-in XML datasource (sitemaps, feed
    exports — the reference's orphan pipeline consumes sitemap URL
    lists, sf_orphan_data.py:67-68). ``rowTag`` picks the repeating
    element; attributes surface as ``_attr`` columns. Schema inference
    costs an extra pass — pass an explicit StructType for registered
    sources, same policy as read_csv."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return normalize_names(reader.load(path))


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-blob scan (``binaryFile`` source): one row per file with
    (path, modificationTime, length, content) — the ingest path for
    multimodal payloads (images/audio/video) that downstream
    mapInPandas decoders consume (operators/multimodal.py). Partition
    count follows spark.sql.files.maxPartitionBytes, so a directory of
    millions of small blobs parallelizes without driver-side listing
    loops; pair with compact_table for the small-file problem."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC scan — the other columnar format a lake migration inherits
    (Hive-era tables). Same predicate-pushdown/column-pruning behavior
    as the parquet scans; round-tripped in
    tests/test_sources_sinks.py::test_orc_round_trip (no DuckDB-side
    oracle — DuckDB has no ORC reader, so this source is test-proven
    rather than oracle-proven)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
