"""Source/sink tests: CSV variants, REST pagination fan-out, writers,
the schema-caching parquet reader."""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ug_dwh_etl_spark.queries import QUERIES, adhoc_sql
from ug_dwh_etl_spark.queries.registry import read_events
from ug_dwh_etl_spark.sinks.writers import append_history, fan_out, overwrite_snapshot
from ug_dwh_etl_spark.sources.readers import read_csv, read_parquet
from ug_dwh_etl_spark.sources.rest import paginated_ingest

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_read_csv_semicolon_latin1(spark, tmp_path):
    # Midoco feed shape: ';'-delimited latin-1 (product_data.py:56)
    p = tmp_path / "bookings.csv"
    p.write_bytes("Buchungs-Nr;Preis\n1;1.234,56\n".encode("latin-1"))
    df = read_csv(spark, str(p), sep=";", encoding="ISO-8859-1")
    assert df.columns == ["buchungs_nr", "preis"]
    assert df.count() == 1


def test_paginated_ingest_distributed(spark):
    schema = StructType([StructField("row_id", LongType()), StructField("v", StringType())])

    def fetch(offset: int, limit: int) -> pd.DataFrame:
        n = min(limit, 250 - offset)
        return pd.DataFrame(
            {"row_id": range(offset, offset + n), "v": [f"r{i}" for i in range(offset, offset + n)]}
        )

    df = paginated_ingest(spark, total_rows=250, chunk_size=100, fetch_chunk=fetch, schema=schema)
    assert df.count() == 250
    assert df.agg(F.countDistinct("row_id")).collect()[0][0] == 250


def test_append_and_overwrite_writers(spark, tmp_path):
    df = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], "id long, crawl_date string")
    hist = str(tmp_path / "hist")
    append_history(df, hist)
    append_history(df, hist)
    assert spark.read.parquet(hist).count() == 4
    # partition pruning path exists
    assert os.path.isdir(os.path.join(hist, "crawl_date=2024-01-01"))

    snap = str(tmp_path / "snap")
    overwrite_snapshot(df, snap)
    overwrite_snapshot(df.limit(1), snap)
    assert spark.read.parquet(snap).count() == 1


def test_fan_out_single_upstream(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id long")
    paths = [str(tmp_path / "a"), str(tmp_path / "b")]
    fan_out(df, [lambda d: overwrite_snapshot(d, paths[0]),
                 lambda d: overwrite_snapshot(d, paths[1])])
    assert spark.read.parquet(paths[0]).count() == 1
    assert spark.read.parquet(paths[1]).count() == 1


def test_merge_upsert_replaces_and_inserts(spark, tmp_path):
    from ug_dwh_etl_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")], ["k", "v", "day"]
    )
    merge_upsert(base, path, keys=["k"], partition_col="day")
    updates = spark.createDataFrame(
        [(2, "B", "d1"), (4, "d", "d2")], ["k", "v", "day"]
    )
    merge_upsert(updates, path, keys=["k"], partition_col="day")
    got = {(r.k, r.v, r.day) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a", "d1"), (2, "B", "d1"), (3, "c", "d2"), (4, "d", "d2")}


def test_merge_upsert_unpartitioned(spark, tmp_path):
    from ug_dwh_etl_spark.sinks.writers import merge_upsert

    path = str(tmp_path / "flat")
    merge_upsert(spark.createDataFrame([(1, "a")], ["k", "v"]), path, keys=["k"])
    merge_upsert(spark.createDataFrame([(1, "A"), (2, "b")], ["k", "v"]), path, keys=["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "A"), (2, "b")}


def test_paged_rest_python_datasource(spark):
    from ug_dwh_etl_spark.sources.pyds import PagedRestDataSource

    spark.dataSource.register(PagedRestDataSource)
    df = (
        spark.read.format("paged_rest")
        .option("total_rows", "250")
        .option("chunk_size", "100")
        .load()
    )
    # one input partition per page — the scheduler parallelizes fetches
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 250
    assert len({r.url for r in rows}) == 250
    first = next(r for r in rows if r.url.endswith("/page/0"))
    assert first.page_rank == 1.0


def test_paged_rest_stream_catches_up_like_cron(spark, tmp_path):
    from ug_dwh_etl_spark.sources.pyds import PagedRestDataSource

    spark.dataSource.register(PagedRestDataSource)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("paged_rest")
            .option("total_rows", "300")
            .option("chunk_size", "100")
            .option("pages_per_batch", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    # each cron-style run ingests the next 2 pages; idempotent once caught up
    assert run_once() == 200
    assert run_once() == 300
    assert run_once() == 300
    urls = spark.read.parquet(out).select("url").distinct().count()
    assert urls == 300


def test_read_orc_and_text_roundtrip(spark, tmp_path):
    from ug_dwh_etl_spark.sources.readers import read_orc, read_text

    orc_path = str(tmp_path / "t.orc")
    spark.range(100).withColumnRenamed("id", "k").write.orc(orc_path)
    assert read_orc(spark, orc_path).count() == 100

    txt_dir = tmp_path / "txt"
    txt_dir.mkdir()
    (txt_dir / "a.txt").write_text("line1\nline2\nline3\n")
    df = read_text(spark, str(txt_dir), normalize_col="text")
    assert df.columns == ["text"]
    assert df.count() == 3


def test_read_xml_sitemap(spark, tmp_path):
    # sitemap shape the orphan pipeline consumes (sf_orphan_data.py:67-68),
    # via Spark 4's built-in XML datasource
    from ug_dwh_etl_spark.sources.readers import read_xml

    p = tmp_path / "sitemap.xml"
    p.write_text(
        '<?xml version="1.0"?><urlset>'
        "<url><loc>https://ex.com/a</loc><priority>0.8</priority></url>"
        "<url><loc>https://ex.com/b/c</loc><priority>0.5</priority></url>"
        "</urlset>"
    )
    df = read_xml(spark, str(p), row_tag="url")
    assert df.columns == ["loc", "priority"]
    assert df.count() == 2
    assert {r.loc for r in df.collect()} == {"https://ex.com/a", "https://ex.com/b/c"}


def test_read_binary_files_glob(spark, tmp_path):
    # multimodal blob ingest: one row per file, content as binary
    from ug_dwh_etl_spark.sources.readers import read_binary_files

    b = tmp_path / "blobs"
    b.mkdir()
    for i in range(3):
        (b / f"img_{i}.bin").write_bytes(bytes([i]) * (10 + i))
    (b / "skip.txt").write_text("not a blob")
    df = read_binary_files(spark, str(b), glob="*.bin")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 3
    got = {os.path.basename(r.path): (r.length, bytes(r.content)) for r in rows}
    assert got["img_2.bin"] == (12, bytes([2]) * 12)


def test_read_csv_malformed_rows_quarantine(spark, tmp_path):
    # feed drift: a row with a non-numeric amount; PERMISSIVE nulls the
    # field and captures the raw line, DROPMALFORMED discards the row
    from pyspark.sql.types import DoubleType

    from ug_dwh_etl_spark.sources.readers import read_csv

    p = tmp_path / "feed.csv"
    p.write_text("id,amount\n1,10.5\n2,not_a_number\n3,7.25\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("amount", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_csv(spark, str(p), schema=schema, normalize=False).cache()
    assert df.count() == 3
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and bad[0]._corrupt_record == "2,not_a_number"
    assert bad[0].amount is None

    schema2 = StructType(
        [StructField("id", LongType()), StructField("amount", DoubleType())]
    )
    dropped = read_csv(
        spark, str(p), schema=schema2, normalize=False, mode="DROPMALFORMED"
    )
    assert [r.id for r in dropped.orderBy("id").collect()] == [1, 3]


def test_ignore_corrupt_parquet_files(spark, tmp_path):
    # a truncated/garbage file in the table directory must not sink the
    # whole 100 TB scan when ignoreCorruptFiles is on
    d = tmp_path / "tbl"
    spark.range(10).write.parquet(str(d))
    (d / "part-garbage.parquet").write_bytes(b"PAR1 this is not parquet")
    ok = (
        spark.read.option("ignoreCorruptFiles", True).parquet(str(d)).count()
    )
    assert ok == 10


def test_webhook_alert_datasource_writer(spark, tmp_path):
    # the K4 alert sink as a Spark 4 Python DataSource WRITER: rows
    # post from executors in batches; the spool stub stands in for HTTP
    import json

    from ug_dwh_etl_spark.sources.pyds import WebhookAlertDataSource

    spark.dataSource.register(WebhookAlertDataSource)
    ep = str(tmp_path / "spool" / "alerts.jsonl")
    df = spark.range(25).selectExpr(
        "id", "concat('violation-', id) AS title", "'dq' AS kind"
    )
    (
        df.write.format("webhook_alert")
        .option("endpoint", ep)
        .option("batch_size", "10")
        .mode("append")
        .save()
    )
    lines = [json.loads(line) for line in open(ep)]
    assert len(lines) == 25
    assert {r["id"] for r in lines} == set(range(25))
    assert all(r["title"] == f"violation-{r['id']}" and r["kind"] == "dq" for r in lines)


def test_compact_partitions_reduces_files_and_preserves_rows(spark, tmp_path):
    import glob

    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.sinks.writers import append_history, compact_partitions

    hist = str(tmp_path / "hist")
    # simulate many micro-batch appends: 8 tiny files per day
    for day in ("2026-01-01", "2026-01-02"):
        for _ in range(8):
            append_history(
                spark.range(50).select(F.col("id"), F.lit(day).alias("crawl_date")),
                hist,
            )
    before = len(glob.glob(f"{hist}/**/*.parquet", recursive=True))
    assert before >= 16
    total_before = spark.read.parquet(hist).count()

    # compact only day 1 (the nightly "compact yesterday" mode)
    compact_partitions(spark, hist, partitions=["2026-01-01"])
    day1 = glob.glob(f"{hist}/crawl_date=2026-01-01/*.parquet")
    assert len(day1) == 1
    # untouched day keeps its files
    day2 = glob.glob(f"{hist}/crawl_date=2026-01-02/*.parquet")
    assert len(day2) >= 8
    assert spark.read.parquet(hist).count() == total_before

    # whole-table compaction
    after = compact_partitions(spark, hist)
    assert after <= 2
    assert spark.read.parquet(hist).count() == total_before


def test_prune_history_drops_only_expired_partitions(spark, tmp_path):
    from ug_dwh_etl_spark.sinks.writers import append_history, prune_history

    path = str(tmp_path / "hist")
    df = spark.createDataFrame(
        [(1, "2026-01-01"), (2, "2026-01-02"), (3, "2026-02-01")],
        "id long, crawl_date string",
    )
    append_history(df, path)
    dropped = prune_history(path, "crawl_date", keep=lambda d: d >= "2026-01-15")
    assert dropped == ["2026-01-01", "2026-01-02"]
    left = spark.read.parquet(path)
    # partition values come back type-inferred (DATE) — compare as strings
    assert {
        str(r.crawl_date) for r in left.select("crawl_date").distinct().collect()
    } == {"2026-02-01"}
    # idempotent: second run drops nothing
    assert prune_history(path, "crawl_date", keep=lambda d: d >= "2026-01-15") == []


def test_snapshot_diff_classifies_all_change_types(spark):
    import pyspark.sql.functions as F

    from ug_dwh_etl_spark.operators.storage import snapshot_diff

    old = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    # new snapshot: drop key 0, modify key 1's price, add a shifted key
    new = (
        old.filter(F.col("o_orderkey") != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == 1, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(old.limit(1).withColumn("o_orderkey", F.lit(10_000_000)))
    )
    d = snapshot_diff(old, new, ["o_orderkey"])
    counts = {r.change_type: r.n for r in d.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    n_old = old.count()
    assert counts.get("removed") == 1
    assert counts.get("added") == 1
    assert counts.get("changed") == 1
    assert counts.get("unchanged") == n_old - 2
    # the CDC feed view: only the non-identical rows
    feed = {(r.o_orderkey, r.change_type) for r in d.filter(
        F.col("change_type") != "unchanged").collect()}
    assert (0, "removed") in feed and (1, "changed") in feed


def test_snapshot_diff_sees_null_shift_and_type_changes(spark):
    """Regression: xxhash64 over raw columns skips NULLs without mixing,
    which made (x, NULL) vs (NULL, x) collide; the JSON-struct hash must
    classify both a null-shift and a cross-type change as 'changed'."""
    from ug_dwh_etl_spark.operators.storage import snapshot_diff

    old = spark.createDataFrame([(1, "x", None), (2, "1", "y")], "k long, a string, b string")
    new = spark.createDataFrame([(1, None, "x"), (2, "1", "y")], "k long, a string, b string")
    got = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "changed", 2: "unchanged"}


def test_orc_round_trip(spark, tmp_path):
    from ug_dwh_etl_spark.sources.readers import read_orc

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    p = str(tmp_path / "orders_orc")
    src.write.orc(p)
    back = read_orc(spark, p)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)
    # pushdown survives the format: an equality filter returns the row
    key = src.limit(1).collect()[0]["o_orderkey"]
    assert back.filter(back.o_orderkey == key).count() == 1


def test_write_training_shards_is_range_ordered(spark, tmp_path):
    """The training-shard sink must produce n range-disjoint, internally
    sorted JSONL files whose union is the input, byte-stable across
    re-runs (the reproducible-epoch contract)."""
    import json as _json
    import os

    from ug_dwh_etl_spark.queries.registry import QUERIES
    from ug_dwh_etl_spark.sinks.writers import write_training_shards

    shuffled = QUERIES["corpus_global_shuffle"].fn(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "shards")
    manifest = write_training_shards(shuffled, out, order_col="pos", n_shards=4)
    assert manifest["n_rows"] == shuffled.count()
    assert manifest["n_files"] == 4
    assert manifest["bytes"] > 0
    ranges = []
    for f in sorted(os.listdir(out)):
        if not f.startswith("part-"):
            continue
        vals = [
            _json.loads(line)["pos"]
            for line in open(os.path.join(out, f))
            if line.strip()
        ]
        if not vals:
            continue
        assert vals == sorted(vals)  # sorted within shard
        ranges.append((min(vals), max(vals)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # range-disjoint shards
    # byte-stable re-run
    again = str(tmp_path / "shards2")
    write_training_shards(shuffled, again, order_col="pos", n_shards=4)
    c1 = b"".join(
        open(os.path.join(out, f), "rb").read()
        for f in sorted(os.listdir(out)) if f.startswith("part-")
    )
    c2 = b"".join(
        open(os.path.join(again, f), "rb").read()
        for f in sorted(os.listdir(again)) if f.startswith("part-")
    )
    assert c1 == c2


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"reader-probe-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "count the jobs of one read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_infers_once_per_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).withColumn("s", F.col("id").cast("string")).write.parquet(path)
    first, first_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    second, second_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert first_jobs >= 1  # the footer job the cache exists to skip
    assert second_jobs == 0
    assert second.schema == first.schema
    # no DataFrame is shared: a self-join of two reads resolves
    a, b = read_parquet(spark, path).alias("a"), read_parquet(spark, path).alias("b")
    assert a.join(b, F.col("a.id") == F.col("b.id")).count() == 5


def test_read_parquet_sees_rewrite_with_new_column(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["id"]
    pq.write_table(pa.table({"id": [1, 2], "extra": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["id", "extra"]
    assert sorted(r.extra for r in df.collect()) == ["x", "y"]


def test_read_parquet_sees_appended_part_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    read_parquet(spark, path)
    _, cached_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    spark.range(3, 5).write.mode("append").parquet(path)
    df, fresh_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert cached_jobs == 0 and fresh_jobs >= 1  # the new part file re-infers
    assert df.count() == 5


def test_read_events_nanos_file_matches_micros_file(spark, tmp_path):
    events = pq.read_table(f"{SF_DIR}/events.parquet").slice(0, 50)
    assert events.schema.field("ts").type == pa.timestamp("us")
    ns = events.set_column(
        events.schema.get_field_index("ts"), "ts", events["ts"].cast(pa.timestamp("ns"))
    )
    (tmp_path / "us").mkdir()
    (tmp_path / "ns").mkdir()
    pq.write_table(events, str(tmp_path / "us" / "events.parquet"))
    pq.write_table(ns, str(tmp_path / "ns" / "events.parquet"), version="2.6")
    assert pq.read_schema(str(tmp_path / "ns" / "events.parquet")).field("ts").type == pa.timestamp("ns")
    prior = spark.conf.get(NANOS_AS_LONG, None)
    try:
        got = {
            layout: [(r.event_id, r.ts) for r in read_events(spark, str(tmp_path / layout))
                     .select("event_id", "ts").orderBy("event_id").collect()]
            for layout in ("us", "ns")
        }
        raw = read_parquet(spark, str(tmp_path / "ns" / "events.parquet"))
        assert isinstance(raw.schema["ts"].dataType, LongType)
    finally:
        if prior is None:
            spark.conf.unset(NANOS_AS_LONG)
        else:
            spark.conf.set(NANOS_AS_LONG, prior)
    assert len(got["us"]) == 50
    assert got["ns"] == got["us"]


def test_read_parquet_missing_or_corrupt_raises(spark, tmp_path):
    prior = spark.conf.get(NANOS_AS_LONG, None)
    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "missing.parquet"))
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"PAR1 this is not parquet")
    with pytest.raises(Exception) as exc:
        read_parquet(spark, str(bad))
    assert "PARQUET_TYPE_ILLEGAL" not in str(exc.value)
    # neither error is taken for the TIMESTAMP(NANOS) fallback
    assert spark.conf.get(NANOS_AS_LONG, None) == prior


def _drop_temp_views(spark):
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


@pytest.mark.parametrize("name", sorted(n for n in QUERIES if n.startswith("sql_")))
def test_run_sql_registers_only_referenced_views(spark, monkeypatch, name):
    _drop_temp_views(spark)
    new = QUERIES[name].fn(spark, SF_DIR).collect()
    registered = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert registered < set(adhoc_sql.TABLES)

    def run_sql_all_views(spark, sf_dir, sql, args=None):
        adhoc_sql.register_views(spark, sf_dir)
        return spark.sql(sql, args=args)

    monkeypatch.setattr(adhoc_sql, "run_sql", run_sql_all_views)
    old = QUERIES[name].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, new)) == sorted(map(tuple, old))


_MAT_SCRIPT = """
import os, sys
from ug_dwh_etl_spark.queries.registry import materialize_once
from ug_dwh_etl_spark.session import get_spark

spark = get_spark("mat-cleanup", master="local[1]")
df = materialize_once(spark, sys.argv[1], "probe", lambda: spark.range(3))
assert df.count() == 3
print(os.getpid(), df.inputFiles()[0])
"""


def test_materialize_once_removes_own_dirs_at_exit(tmp_path):
    other = tmp_path / "mat_probe_1"  # another process's artifact
    (other / "k").mkdir(parents=True)
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="512m")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _MAT_SCRIPT, SF_DIR], cwd=root, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    pid, artifact_file = proc.stdout.split()[-2:]
    mine = tmp_path / f"mat_probe_{pid}"
    assert f"{mine}/" in artifact_file  # the artifact was written there
    assert not mine.exists()
    assert other.is_dir()
