"""Result digests and the DuckDB oracle they are checked against.

A digest is a result's row count, its sorted column names and a hash of its
rows after ``tools/check_oracle.py``'s ``normalize`` (cells rendered the
way the correctness gate renders them, rows sorted), so it does not depend
on row order. Oracle digests are computed once per fixture and cached
beside a copy of it, outside every timing.

The fixture (``perfbench/fixture``) is the sf0.001 scale of the project's
test tables (see ``TESTDATA.md``), one parquet file per table, copied
unchanged, so the benchmark times the data the correctness gate checks.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import shutil

import pandas as pd

DIGESTS = "oracle.json"
_HERE = os.path.dirname(os.path.abspath(__file__))
_CHECK_ORACLE = os.path.join(os.path.dirname(_HERE), "tools", "check_oracle.py")
FIXTURE_DIR = os.path.join(_HERE, "fixture")
TABLES = sorted(f[: -len(".parquet")] for f in os.listdir(FIXTURE_DIR) if f.endswith(".parquet"))


@functools.cache
def _normalize():
    spec = importlib.util.spec_from_file_location("check_oracle", _CHECK_ORACLE)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.normalize


def digest(df: pd.DataFrame) -> dict:
    """Row count, sorted column names and order-insensitive value hash.
    Raises ``TypeError`` for cells the correctness gate cannot compare."""
    norm = _normalize()(df)
    h = hashlib.sha1()
    for row in norm.itertuples(index=False, name=None):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"rows": len(df), "cols": sorted(map(str, df.columns)), "sha1": h.hexdigest()}


def fixture(cache_root: str, oracles: dict[str, str]) -> str:
    """Directory holding a copy of the fixture tables, with the oracle
    digest of every query in ``oracles`` ({name: DuckDB SQL}) in its
    ``DIGESTS`` file, built on first use.

    The program reads the copy, so nothing it writes can reach the
    committed fixture. The cache key covers the fixture's bytes and the
    oracle SQL, so a change to either builds a fresh copy."""
    key = hashlib.sha1(json.dumps(oracles, sort_keys=True).encode())
    for table in TABLES:
        with open(os.path.join(FIXTURE_DIR, f"{table}.parquet"), "rb") as fh:
            key.update(fh.read())
    path = os.path.join(cache_root, f"fixture-{key.hexdigest()[:16]}")
    if not os.path.exists(os.path.join(path, DIGESTS)):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.copytree(FIXTURE_DIR, tmp)
        digests = oracle_digests(tmp, oracles)
        with open(os.path.join(tmp, DIGESTS), "w") as fh:
            json.dump(digests, fh)
        os.rename(tmp, path)
    return path


def oracle_digests(sf_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    import duckdb

    con = duckdb.connect()
    try:
        for table in TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
        return {name: digest(con.execute(sql).fetchdf()) for name, sql in oracles.items()}
    finally:
        con.close()
