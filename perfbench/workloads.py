"""The benchmark's workloads: which public entry points one pass calls.

An op is one call into a public entry point plus collecting its result to
the driver: ``QUERIES[name].fn`` followed by ``toPandas()``, or one of the
cron-day plans ``daily_run`` / ``backfill_run``. A run makes one cold pass
and then warm passes over the same ops; the seed fixes the op order of each
pass and the backfill dates of ``etl``. The program itself only ever sees
the fixture tables, a warehouse path and those dates.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

# Relational, window, history, semantic and ad-hoc SQL queries with
# dashboard-sized results: the per-query fixed cost (plan build, schema
# inference, job scheduling) dominates them.
DASHBOARD = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q12_priority_class_by_status",
    "window_running_spend",
    "events_funnel",
    "history_scd2",
    "semantic_global_kpis",
    "semantic_orders_by_year_status",
    "sql_adhoc_daily_orders",
    "sql_adhoc_directory_rollup",
)

# Dedup, text and graph operators: bound by execution and iterative jobs,
# and the only workload that builds and reuses ``materialize_once`` artifacts.
CORPUS = (
    "dedup_minhash_lsh_pairs",
    "text_tfidf_terms",
    "graph_components_converged",
    "graph_label_propagation",
)

# Incremental (Trigger.AvailableNow) streaming jobs of one cron day.
ETL_STREAMS = ("stream_hourly_tumbling",)

WORKLOADS = ("dashboard", "corpus", "etl")
# Warm passes every run makes, sized so each workload times enough warm ops
# to hold still while a run stays near 40 s.
WARM_PASSES = {"dashboard": 2, "corpus": 2, "etl": 1}

# Tables ``daily_run`` lands, keyed to the registry query that computes the
# same rows. Append tables gain one copy per day, snapshot tables are
# replaced, and the backfilled tables also hold one copy per backfill date.
APPEND_TABLES = {
    "bq_content_history": "pipeline_e1_crawl",
    "bq_audisto_ranks": "pipeline_e2_ranks",
    "bq_bookings": "pipeline_e3_bookings",
    "bq_images": "pipeline_e4_images",
    "bq_orphan_urls": "pipeline_e5_orphans",
    "bq_backlinks": "pipeline_e7_backlinks",
}
SNAPSHOT_TABLES = {
    "bq_content": "pipeline_e1_crawl",
    "bq_inlinks": "pipeline_e6_inlinks",
    "bq_hreflang_issues": "pipeline_e8_hreflang",
}
BACKFILLED = ("bq_images", "bq_orphan_urls", "bq_backlinks")
# Registry entries whose DuckDB oracles check the results of every workload.
ORACLE_NAMES = (
    DASHBOARD + CORPUS + ETL_STREAMS
    + tuple(sorted(set(APPEND_TABLES.values()) | set(SNAPSHOT_TABLES.values())))
)
BACKFILL_DATES_PER_PASS = 1
# Backfill dates lie in 2020, so they never meet the partition that
# ``daily_run`` stamps with today's date.
_BACKFILL_EPOCH = dt.date(2020, 1, 1)


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # "query", "daily" or "backfill"
    dates: tuple[str, ...] = ()


def pass_ops(workload: str, seed: int, pass_index: int) -> list[Op]:
    """The ops of one pass. The cold pass (index 0) keeps the listed
    order, as a cron invocation runs its jobs in a fixed order; the seed
    orders every warm pass and picks the backfill dates."""
    rng = random.Random(f"{workload}:{seed}:{pass_index}")
    shuffle = rng.shuffle if pass_index > 0 else (lambda ops: None)
    if workload == "etl":
        streams = list(ETL_STREAMS)
        shuffle(streams)
        days = rng.sample(range(366), BACKFILL_DATES_PER_PASS)
        dates = tuple(str(_BACKFILL_EPOCH + dt.timedelta(days=d)) for d in sorted(days))
        return [
            Op("daily_run", "daily"),
            Op("backfill_run", "backfill", dates),
            *(Op(n, "query") for n in streams),
        ]
    names = list(DASHBOARD if workload == "dashboard" else CORPUS)
    shuffle(names)
    return [Op(n, "query") for n in names]


def expected_table_rows(
    oracle_rows: dict[str, int], days: int, backfill_dates: set[str]
) -> dict[str, int]:
    """Row count of every warehouse table after ``days`` runs of
    ``daily_run`` and backfills over ``backfill_dates``."""
    out = {}
    for table, query in APPEND_TABLES.items():
        copies = days + (len(backfill_dates) if table in BACKFILLED else 0)
        out[table] = oracle_rows[query] * copies
    for table, query in SNAPSHOT_TABLES.items():
        out[table] = oracle_rows[query]
    return out
