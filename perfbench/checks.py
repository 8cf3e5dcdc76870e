"""Output checks, run outside the timed phase. Each returns a list of
failure messages, one per failed unit (a star table or a catalog entry).

The star tables are checked against the DuckDB oracle of
``tests/ztm_oracle.py``; the catalog entries against their own
``ENTRIES[name].oracle`` SQL. Both compare through
``tests/compare.assert_frames_equal``.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pandas as pd

from tests.compare import assert_frames_equal
from tests.ztm_oracle import ORACLES, register_inputs

from layers import STAR_TABLES

KEYS = {t: ("id",) for t in STAR_TABLES} | {
    "DelayFact": ("time_id", "weather_id", "vehicle_id", "line_id", "stop_id"),
}


def _keep_first_sql(sql: str, keys: tuple[str, ...], cols: list[str]) -> str:
    """The merge sink's in-batch dedup: per key, the row lowest in all
    non-key columns (ascending, nulls last) survives."""
    order = ", ".join(f'"{c}" asc nulls last' for c in cols if c not in keys) or "1"
    part = ", ".join(f'"{k}"' for k in keys)
    return (
        f"select * exclude (__rn) from (select *, row_number() over "
        f"(partition by {part} order by {order}) as __rn from ({sql})) where __rn = 1"
    )


def expected_star(con: duckdb.DuckDBPyConnection, data_root: str, hours: list[dt.datetime]) -> dict:
    """What the warehouse must hold after replaying ``hours`` in order:
    each hour offers the oracle's rows for that hour's TimeDim row,
    deduped per key, and only keys not yet present are appended."""
    register_inputs(con, data_root)
    # parse each feed once: the oracle's views re-read the CSVs per query
    for view in ("routes", "trips", "stops", "stop_times", "vehicles", "delays", "weather", "time_dim"):
        con.execute(f"create or replace table __{view} as select * from {view}")
        con.execute(f"create or replace view {view} as select * from __{view}")
    acc = {}
    for h in hours:
        con.execute(
            "create or replace view time_dim as select * from __time_dim "
            f"where full_timestamp = timestamp '{h:%Y-%m-%d %H:%M:%S}'"
        )
        for t in STAR_TABLES:
            cols = [c[0] for c in con.execute(f"select * from ({ORACLES[t]}) limit 0").description]
            batch = con.execute(_keep_first_sql(ORACLES[t], KEYS[t], cols)).df()
            if t in acc:
                seen = set(map(tuple, acc[t][list(KEYS[t])].astype(object).values.tolist()))
                fresh = [tuple(r) not in seen for r in batch[list(KEYS[t])].astype(object).values.tolist()]
                batch = pd.concat([acc[t], batch[fresh]], ignore_index=True)
            acc[t] = batch
    return acc


def check_star(data_root: str, warehouse: str, hours: list[dt.datetime]) -> list[str]:
    failures = []
    con = duckdb.connect()
    try:
        want = expected_star(con, data_root, hours)
        for t in STAR_TABLES:
            path = os.path.join(warehouse, t)
            try:
                got = con.execute(f"select * from read_parquet('{path}/*.parquet')").df()
                assert_frames_equal(got, want[t])
            except (AssertionError, duckdb.Error) as e:
                failures.append(f"{t}: {e}")
    finally:
        con.close()
    return failures


def check_entries(results: dict, tables_dir: str) -> list[str]:
    """``results`` maps an entry name to its collected pandas frame."""
    from idh_etl_demo_spark.catalog import ENTRIES

    failures = []
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"create view {t} as select * from read_parquet('{tables_dir}/{t}.parquet')")
        for name, got in results.items():
            try:
                assert_frames_equal(got, con.execute(ENTRIES[name].oracle).df())
            except (AssertionError, duckdb.Error) as e:
                failures.append(f"{name}: {e}")
    finally:
        con.close()
    return failures
