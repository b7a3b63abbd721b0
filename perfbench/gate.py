"""Correctness gate: every op's output against DuckDB over the same
generated inputs, run once per benchmark run outside the timed region.

Registry queries are compared the way the repository's driver-contract
sweep compares them: sorted column names, an order-insensitive hash of
canonicalised values, and the dtype class of every column.  Queries
without an oracle are checked on running to completion (rows only).
Pipeline runs are checked against DuckDB over the generated CSVs and
event table, and every dated run must leave its partition unchanged
when it runs a second time.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import duckdb
import pandas as pd
from etl_cloud_batch_processing_spark.sources.readers import FIXTURE_TABLES


def canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        return canon(v.item())
    return v


def dclass(dtype) -> str:
    k = getattr(dtype, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(k, "other")


def value_hash(frame: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's canonical values."""
    cols = sorted(frame.columns)
    rows = sorted((tuple(canon(v) for v in row)
                   for row in frame[cols].itertuples(index=False)), key=repr)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches the oracle frame ``want``, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if value_hash(got) != value_hash(want):
        return "value hash differs"
    bad = [c for c in got.columns if dclass(got[c].dtype)
           != dclass(want[c].dtype)]
    if bad:
        return f"dtype class differs on {bad}"
    return None


def connect(fixtures: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"create view {t} as select * from "
                    f"read_parquet('{fixtures}/{t}.parquet')")
    return con


def check_query(spark, con, spec, fixtures: str) -> str | None:
    got = spec.builder(spark, fixtures).toPandas()
    if spec.oracle is None:
        return None
    return compare(got, con.execute(spec.oracle).fetchdf())


def _partition(con, table: str, ds: str) -> pd.DataFrame:
    return con.execute(
        f"select * from read_parquet('{table}/dt={ds}/*.parquet')").fetchdf()


def partition_hash(con, table: str, ds: str) -> tuple[str, int, int]:
    """(value hash, rows, distinct rows) of one ``dt`` partition."""
    frame = _partition(con, table, ds)
    distinct = len(set(tuple(canon(v) for v in row)
                       for row in frame.itertuples(index=False)))
    return value_hash(frame), len(frame), distinct


def case_a_expected(con, source_root: str, ds: str) -> pd.DataFrame:
    path = os.path.join(source_root, "keyword_search",
                        f"search_{ds.replace('-', '')}.csv")
    return con.execute(f"""
        SELECT TRY_CAST(user_id AS BIGINT) AS user_id, search_keyword,
               TRY_CAST(search_result_count AS BIGINT)
                 AS search_result_count,
               TRY_CAST(LEFT(created_at, 10) AS DATE) AS created_date
        FROM read_csv('{path}', header = true, all_varchar = true)
        WHERE TRY_CAST(LEFT(created_at, 10) AS DATE) = DATE '{ds}'
        ORDER BY search_result_count DESC NULLS LAST,
                 search_keyword ASC NULLS FIRST, user_id ASC NULLS FIRST
        LIMIT 1""").fetchdf()


def case_b_expected(con, events: str, ds: str) -> tuple:
    return con.execute(f"""
        SELECT count(*),
               round(sum(CASE WHEN len(event_params) = 21
                         THEN event_params[5].value.float_value END), 4),
               sum(CASE WHEN len(event_params) = 21
                   THEN event_params[4].value.int_value END)
        FROM read_parquet('{events}')
        WHERE event_name = 'purchase_item'
          AND CAST(event_datetime AS DATE)
              BETWEEN DATE '{ds}' AND DATE '{ds}' + INTERVAL 2 DAY
        """).fetchone()


def case_b_actual(con, table: str, ds: str) -> tuple:
    return con.execute(f"""
        SELECT count(*), round(sum(purchase_amount), 4),
               sum(purchase_quantity)
        FROM read_parquet('{table}/dt={ds}/*.parquet')""").fetchone()


def check_pipeline(con, kind: str, ds: str, locs: dict[str, str],
                   table: str) -> str | None:
    """Output of one dated pipeline run against DuckDB."""
    if kind == "case_a":
        got = _partition(con, table, ds).drop(columns=["dt"],
                                              errors="ignore")
        return compare(got, case_a_expected(con, locs["case_a"], ds))
    if kind == "case_b":
        got, want = case_b_actual(con, table, ds), case_b_expected(
            con, locs["case_b"], ds)
        if got[0] != want[0] or got[2] != want[2]:
            return f"rows/quantity {got} != {want}"
        if not math.isclose(got[1] or 0.0, want[1] or 0.0, rel_tol=1e-9):
            return f"amount {got[1]} != {want[1]}"
        return None
    raise ValueError(f"no check for pipeline {kind!r}")
