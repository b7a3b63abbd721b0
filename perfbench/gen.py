"""Seeded input generation for the benchmark.

Everything a workload reads is generated here from ``--seed``, so the
same seed gives byte-identical files and the program under test only
ever sees the generated inputs:

* the ten fixture tables the registry queries read (the TESTDATA.md
  schemas, at the row counts of its sf0.01 or sf0.1 tier);
* Case A's daily search-history CSV (FIXTURES.md 1.1), with junk
  numerics and malformed ``created_at`` values;
* Case B's ``unified_events`` table (FIXTURES.md 1.2), with both the
  21-param and the sparse ``event_params`` shapes.

Only numpy and pyarrow are used, so generation needs no Spark session.
"""

from __future__ import annotations

import csv
import io
import os
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture row counts per scale tier of TESTDATA.md.  sf0.01 holds 300
# documents instead of 500, which keeps near-duplicate clustering short.
ROWS = {
    "sf0.01": {"customer": 1500, "supplier": 100, "part": 2000,
               "orders": 15000, "lineitem": 60000, "events": 10000,
               "documents": 300, "embeddings": 500},
    "sf0.1": {"customer": 15000, "supplier": 1000, "part": 20000,
              "orders": 150000, "lineitem": 600000, "events": 100000,
              "documents": 5000, "embeddings": 2000},
}

# Case A: one CSV per day.  Case B: one event table spanning three
# 3-day windows, of which a run reads one; sized so its scan, not only
# job scheduling, shows.
CASE_A_START = "2024-03-01"
CASE_A_DAYS = 1
CASE_A_ROWS_PER_DAY = 4000
CASE_B_START = "2024-03-01"
CASE_B_DAYS = 9
CASE_B_ROWS = 120_000

WORDS = ("a the data query table row column join group order sort scan "
         "filter hash key value batch stream window merge agg spark part "
         "line customer vector big small fast slow dup").split()
LANGS = ("en", "en", "en", "fr", "de", "es", "zh")
KEYWORDS = ("laptop phone shoes jacket coffee book tv camera watch bag "
            "chair desk lamp bike tent").split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a table never
    shifts another table's values for the same seed."""
    key = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([seed, key])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us")
          + (seconds * 1_000_000).astype("int64").astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def _day_ts(rng: np.random.Generator, n: int, lo: str, days: int) -> pa.Array:
    d = rng.integers(0, days, n)
    return _ts(datetime.fromisoformat(lo), d * 86400.0)


def fixture_tables(seed: int, sf: str) -> dict[str, pa.Table]:
    """The ten registry fixture tables, TESTDATA.md schemas, at the row
    counts of tier ``sf``."""
    rows = ROWS[sf]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    n = rows["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, n), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n)})

    r = _rng(seed, "supplier")
    n = rows["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(np.arange(n) % 25, pa.int32()),
        "s_acctbal": np.round(r.uniform(-999, 9999, n), 2)})

    r = _rng(seed, "part")
    n = rows["part"]
    adj = ["small", "large", "red", "blue", "hot", "old", "shiny", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil",
            "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                            "MEDIUM", "PROMO"], n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})

    r = _rng(seed, "orders")
    n = rows["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, rows["customer"], n),
                              pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(r.uniform(1000, 500000, n), 2),
        "o_orderdate": _day_ts(r, n, "1995-01-01", 2404),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n)})

    r = _rng(seed, "lineitem")
    n = rows["lineitem"]
    okey = np.sort(r.integers(0, rows["orders"], n))
    first = np.r_[True, okey[1:] != okey[:-1]]
    grp = np.cumsum(first) - 1
    starts = np.flatnonzero(first)
    linenumber = np.arange(n) - starts[grp] + 1
    qty = r.integers(1, 51, n).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, rows["supplier"], n),
                              pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["F", "O"], n),
        "l_shipdate": _day_ts(r, n, "1995-01-02", 2498)})

    r = _rng(seed, "events")
    n = rows["events"]
    secs = np.sort(r.uniform(0, 30 * 86400, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), secs),
        "user_id": pa.array(r.integers(0, rows["customer"] // 10, n),
                            pa.int64()),
        "event_type": r.choice(["click", "signup", "error", "view",
                                "purchase"], n),
        "value": np.round(r.uniform(0.01, 490, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})

    r = _rng(seed, "documents")
    n = rows["documents"]
    texts: list[str] = []
    for i in range(n):
        if i % 6 == 5:
            # Every sixth document is a near-duplicate (a few token
            # edits) of an earlier original, never of another copy: the
            # clustering operators get work whose shape, and so whose
            # round count, does not depend on the seed.
            toks = texts[6 * int(r.integers(0, i // 6 + 1)) + int(
                r.integers(0, 5))].split()
            for _ in range(int(r.integers(0, 3))):
                toks[int(r.integers(0, len(toks)))] = str(r.choice(WORDS))
        else:
            toks = list(r.choice(WORDS, int(r.integers(8, 100))))
        texts.append(" ".join(toks))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, "embeddings")
    n = rows["embeddings"]
    centers = r.normal(0, 1, (10, 64))
    label = r.integers(0, 10, n)
    vec = centers[label] + r.normal(0, 0.6, (n, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype("float32").ravel(), pa.float32())
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * 64 + 1, 64), pa.int32()), flat),
        "label": pa.array(label, pa.int32())})
    return out


def case_a_days() -> list[str]:
    d0 = date.fromisoformat(CASE_A_START)
    return [(d0 + timedelta(days=i)).isoformat() for i in range(CASE_A_DAYS)]


def case_a_csv(seed: int, ds: str) -> bytes:
    """One day's search-history CSV: header row, all-string columns,
    about 3% junk counts and 3% malformed or off-day ``created_at``."""
    r = _rng(seed, f"case_a/{ds}")
    n = CASE_A_ROWS_PER_DAY
    day = date.fromisoformat(ds)
    prev = (day - timedelta(days=1)).isoformat()
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["user_id", "search_keyword", "search_result_count",
                "created_at"])
    users = r.integers(1, 5000, n)
    kws = r.choice(KEYWORDS, n)
    counts = r.integers(0, 100_000, n)
    secs = r.integers(0, 86400, n)
    kind = r.random(n)
    for i in range(n):
        cnt = "n/a" if kind[i] < 0.03 else str(counts[i])
        uid = "user?" if 0.03 <= kind[i] < 0.05 else str(users[i])
        hh, rem = divmod(int(secs[i]), 3600)
        stamp = f"{hh:02d}:{rem // 60:02d}:{rem % 60:02d}"
        if 0.05 <= kind[i] < 0.065:
            created = "not-a-date"
        elif 0.065 <= kind[i] < 0.08:
            created = f"{prev} {stamp}"
        else:
            created = f"{ds} {stamp}"
        w.writerow([uid, kws[i], cnt, created])
    return buf.getvalue().encode()


def case_b_starts() -> list[str]:
    """Case B run dates: every 3 days across the generated span."""
    d0 = date.fromisoformat(CASE_B_START)
    return [(d0 + timedelta(days=i)).isoformat()
            for i in range(0, CASE_B_DAYS, 3)]


_PARAM_VALUE = pa.struct([("int_value", pa.int64()),
                          ("string_value", pa.string()),
                          ("float_value", pa.float64())])
_PARAM = pa.struct([("value", _PARAM_VALUE)])


def unified_events(seed: int) -> pa.Table:
    """Case B source: 80% ``purchase_item`` rows, of which 70% carry the
    full 21-param shape and the rest the sparse 2-param shape."""
    r = _rng(seed, "case_b")
    n = CASE_B_ROWS
    name = np.where(r.random(n) < 0.8, "purchase_item", "view_item")
    full = r.random(n) < 0.7
    plen = np.where(full, 21, 2)
    offsets = np.r_[0, np.cumsum(plen)].astype("int32")
    total = int(offsets[-1])
    slot = np.arange(total) - np.repeat(offsets[:-1], plen)
    row = np.repeat(np.arange(n), plen)
    is_full = np.repeat(full, plen)
    ints = r.integers(1, 1_000_000, total)
    floats = np.round(r.uniform(1, 5000, total), 2)
    qty = r.integers(1, 10, total)
    methods = np.array(["card", "cash", "wallet", "transfer"])
    sources = np.array(["web", "app", "store"])
    int_v = np.full(total, None, dtype=object)
    str_v = np.full(total, None, dtype=object)
    flt_v = np.full(total, None, dtype=object)
    # Full shape, params 0-7: id, detail id, number, qty, amount,
    # payment method, source, product id (transaction_data.py:29-36).
    f = is_full
    for k in (0, 1, 7):
        m = f & (slot == k)
        int_v[m] = ints[m]
    m = f & (slot == 3)
    int_v[m] = qty[m]
    m = f & (slot == 4)
    flt_v[m] = floats[m]
    m = f & (slot == 2)
    str_v[m] = np.char.add("TRX-", (row[m] % 100_000).astype(str))
    m = f & (slot == 5)
    str_v[m] = methods[ints[m] % 4]
    m = f & (slot == 6)
    str_v[m] = sources[ints[m] % 3]
    m = f & (slot >= 8)
    str_v[m] = "extra"
    # Sparse shape: param 0 = transaction number, param 1 = product id.
    m = ~f & (slot == 0)
    str_v[m] = np.char.add("TRX-", (row[m] % 100_000).astype(str))
    m = ~f & (slot == 1)
    int_v[m] = ints[m]
    values = pa.StructArray.from_arrays(
        [pa.array(int_v, pa.int64()), pa.array(str_v, pa.string()),
         pa.array(flt_v, pa.float64())],
        fields=list(_PARAM_VALUE))
    params = pa.ListArray.from_arrays(
        pa.array(offsets), pa.StructArray.from_arrays([values],
                                                      fields=list(_PARAM)))
    secs = np.sort(r.uniform(0, CASE_B_DAYS * 86400, n))
    states = np.array(["CA", "NY", "TX", "WA", "FL"])
    return pa.table({
        "event_name": name,
        "event_datetime": _ts(datetime.fromisoformat(CASE_B_START), secs),
        "event_params": params,
        "user_id": np.char.add("u", r.integers(1, 20000, n).astype(str)),
        "state": states[r.integers(0, 5, n)],
        "city": np.char.add("city", r.integers(0, 50, n).astype(str)),
        "created_at": [f"{CASE_B_START} 00:00:00"] * n,
    })


def generate(seed: int, root: str, pipelines: bool,
             sf: str = "sf0.01") -> dict[str, str]:
    """Write every input under ``root``; returns the named locations:
    ``fixtures`` (a TESTDATA-layout directory at tier ``sf``) and, with
    ``pipelines``,
    ``case_a`` (the CSV source root) and ``case_b`` (the event table)."""
    fx = os.path.join(root, "fixtures")
    os.makedirs(fx, exist_ok=True)
    for name, tbl in fixture_tables(seed, sf).items():
        _write(tbl, os.path.join(fx, f"{name}.parquet"))
    locs = {"fixtures": fx}
    if pipelines:
        a = os.path.join(root, "case_a")
        os.makedirs(os.path.join(a, "keyword_search"), exist_ok=True)
        for ds in case_a_days():
            path = os.path.join(
                a, "keyword_search", f"search_{ds.replace('-', '')}.csv")
            with open(path, "wb") as fh:
                fh.write(case_a_csv(seed, ds))
        b = os.path.join(root, "case_b")
        os.makedirs(b, exist_ok=True)
        _write(unified_events(seed), os.path.join(b, "unified_events.parquet"))
        locs.update(case_a=a, case_b=os.path.join(b, "unified_events.parquet"))
    return locs
