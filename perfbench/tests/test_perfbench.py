"""Tests of the benchmark itself.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

The last test starts Spark once per workload and takes about a minute.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import tempfile

import pandas as pd
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gate  # noqa: E402
import gen  # noqa: E402
import profile_sql  # noqa: E402
import run  # noqa: E402
from workloads import SQL_MIX_PICKS, WINDOW_QUERIES, WORKLOADS  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _s, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("sf", sorted(gen.ROWS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, sf):
    a = gen.generate(7, str(tmp_path / "a"), pipelines=True, sf=sf)
    b = gen.generate(7, str(tmp_path / "b"), pipelines=True, sf=sf)
    c = gen.generate(8, str(tmp_path / "c"), pipelines=True, sf=sf)
    names = _files(str(tmp_path / "a"))
    assert names == _files(str(tmp_path / "b")) == _files(str(tmp_path / "c"))
    assert len(names) == 10 + gen.CASE_A_DAYS + 1
    for rel in names:
        pa, pb, pc = (str(tmp_path / d / rel) for d in "abc")
        assert filecmp.cmp(pa, pb, shallow=False), rel
        # region and nation are the same fixed dimension for every seed.
        fixed = os.path.basename(rel) in ("region.parquet", "nation.parquet")
        assert filecmp.cmp(pa, pc, shallow=False) == fixed, rel
    assert set(a) == set(b) == set(c) == {"fixtures", "case_a", "case_b"}
    for name, rows in gen.ROWS[sf].items():
        path = os.path.join(a["fixtures"], f"{name}.parquet")
        assert pq.read_metadata(path).num_rows == rows, name


def test_op_order_follows_the_seed_and_reruns_follow_first_runs():
    wl = WORKLOADS["etl_mix"]
    assert wl.ops(3, 1) == wl.ops(3, 1)
    assert [o.key for o in wl.ops(3, 1)] != [o.key for o in wl.ops(4, 1)]
    ops = wl.ops(3, 1)
    first = [o.key for o in ops if not o.rerun and o.kind != "query"]
    again = [o.key.removesuffix(":rerun") for o in ops if o.rerun]
    assert first == again
    assert ops.index(next(o for o in ops if o.rerun)) == len(ops) - len(again)


def _record(traced_layers: dict) -> dict:
    def op(kind: str, rerun: bool, layers: dict | None) -> dict:
        rec = {"key": f"{kind}:x" + (":rerun" if rerun else ""),
               "kind": kind, "rerun": rerun, "s": 0.5, "failed": False}
        if layers is not None:
            rec["layers"] = dict(layers, op_s=0.5)
        return rec

    def iteration(index: int, layers: dict | None) -> dict:
        kinds = [("query", False), ("case_a", False), ("case_b", False),
                 ("query", False), ("case_a", True)]
        return {"index": index, "traced": layers is not None,
                "wall_s": 2.5, "cpu_s": 4.0, "jit_s": 0.5,
                "ops": [op(k, r, layers) for k, r in kinds]}

    setup = {"s": 0.8, "session_s": 0.3, "gen_s": 0.5}
    return {"setups": [setup] * 3, "warmup_s": 2.2,
            "iterations": [iteration(1, None), iteration(2, traced_layers)],
            "probe_start_s": 0.3, "probe_end_s": 0.31, "stored_mb": 9.0,
            "stored_output_mb": 2.0, "peak_rss_mb": 1500.0,
            "gate_failed": {}}


def test_every_reported_metric_is_declared():
    declared = _declared()
    layers = {"exec.jobs": 3, "exec.task_run_s": 1.0,
              "exec.task_cpu_s": 0.8, "streaming.starts": 1,
              "streaming.batches": 2, "streaming.no_data_batches": 1,
              "sources.bytes_written": 2048.0, "sources.rows_written": 8}
    rec = _record(layers)
    e2e = run.end_to_end(rec, WORKLOADS["sql_mix"])
    assert list(e2e) == [m["name"] for m in declared["end_to_end"]]
    names = [m["name"] for m in declared["per_layer"]]
    layer = run.per_layer(rec, names, spans=[])
    assert list(layer) == names
    assert layer["exec.jobs"] == 15
    assert layer["exec.cpu_per_run"] == pytest.approx(0.8)
    assert layer["streaming.data_batch_ratio"] == pytest.approx(0.5)
    assert layer["sources.bytes_per_row"] == pytest.approx(256.0)
    assert all(isinstance(v, float | int) for v in {**e2e, **layer}.values())


def test_declared_workloads_exist():
    declared = _declared()
    assert [w["name"] for w in declared["workloads"]] == list(WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in declared["end_to_end"])


def test_sql_mix_runs_the_profiled_selection():
    with open(profile_sql.PROFILE) as fh:
        profile = json.load(fh)
    family = {q: v for q, v in profile["queries"].items() if v["family"]}
    assert len(family) == 98 and not profile["failed"]
    warm = {q: v["warm_s"] for q, v in family.items() if not v["python"]}
    assert profile_sql.select(warm) == sorted(SQL_MIX_PICKS)
    wl = WORKLOADS["sql_mix"]
    assert wl.queries == SQL_MIX_PICKS + WINDOW_QUERIES
    assert wl.sf == profile["sf"] == "sf0.1"


def test_selection_takes_one_query_per_time_share():
    # Nine light queries carry half the time, one heavy query the rest.
    warm = {f"q{i}": 1.0 for i in range(9)} | {"heavy": 9.0}
    assert profile_sql.select(warm, strata=2) == ["heavy", "q4"]
    # Equal times: equal-count strata, the middle of each.
    warm = {f"q{i}": 1.0 for i in range(10)}
    assert profile_sql.select(warm, strata=5) == [
        "q0", "q2", "q4", "q6", "q8"]


def test_gate_flags_a_wrong_result():
    want = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    assert gate.compare(want[["v", "k"]].iloc[::-1], want) is None
    wrong_value = want.assign(v=[1.5, 2.75])
    assert gate.compare(wrong_value, want) == "value hash differs"
    assert "rows" in gate.compare(want.iloc[:1], want)
    assert "columns" in gate.compare(want.rename(columns={"v": "w"}), want)
    # The value hash tells 2 from 2.0, as tools/drive_entry.py does.
    assert gate.compare(want.assign(v=[1, 2]), want.assign(v=[1.0, 2.0]))


def test_gate_flags_a_wrong_query_against_duckdb(tmp_path):
    locs = gen.generate(5, str(tmp_path), pipelines=False)
    con = gate.connect(locs["fixtures"])

    class Frame:
        def __init__(self, frame):
            self.frame = frame

        def toPandas(self):
            return self.frame

    class Spec:
        oracle = "SELECT r_regionkey, r_name FROM region"

        def __init__(self, frame):
            self.builder = lambda spark, sf: Frame(frame)

    right = con.execute(Spec.oracle).fetchdf()
    assert gate.check_query(None, con, Spec(right), locs["fixtures"]) is None
    wrong = right.assign(r_name=right.r_name.str.lower())
    assert gate.check_query(None, con, Spec(wrong), locs["fixtures"])


def test_failed_gate_counts_every_run_of_the_op():
    rec = _record({})
    rec["gate_failed"] = {"case_a:x": "re-run changed the partition"}
    attempted, failed = run.outcome(rec)
    assert (attempted, failed) == (10, 4)
    assert run.end_to_end(rec, WORKLOADS["sql_mix"])["op_ok_ratio"] == 0.6


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, run.PACKAGE)),
                    reason="needs the package under test")
@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_layer_counts_repeat_across_iterations(tmp_path, monkeypatch, name):
    """Counts a later change may rest a claim on must repeat exactly
    from one traced iteration to the next."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    # Stream sinks, checkpoints and the Python workers follow these.
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", run.DRIVER_MEMORY)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    bench = run.Run(WORKLOADS[name], seed=1, seconds=0, trace=True,
                    work=str(tmp_path))
    try:
        bench.setup(0)
        layers = run.TracedLayers(bench.spark, bench.tracer)
        traced = []
        for index in (1, 2):
            with layers.active():
                traced.append(bench.iteration(index, layers))
    finally:
        bench.shutdown()

    def counts(it: dict) -> dict:
        return {op["key"]: (op["layers"]["exec.jobs"],
                            op["layers"].get("operators.fixpoint_rounds", 0),
                            op["layers"]["streaming.batches"])
                for op in it["ops"]}

    first, second = (counts(it) for it in traced)
    assert first == second
    assert all(c[0] > 0 for c in first.values())
    if name == "etl_mix":
        assert first["q:near_dup_clusters"][1] > 0
        assert first["q:streaming_tumbling_counts"][2] > 0
        assert first["q:streaming_user_totals_stateful"][2] > 0
