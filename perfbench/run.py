"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0

One run sets up three times (a cold start of the JVM and the session,
and input generation from the seed), makes one warm-up pass, which
counts as set-up, probes box speed, runs the workload's iterations as a
closed loop for ``--seconds``, probes box speed again, checks every op's
output against DuckDB, and prints one JSON line last.
``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` alternates untraced and traced iterations, reports the
per-layer metrics and the tracing overhead, and writes its spans.
Everything a run writes stays under ``.perfbench/`` in the working
directory; the run record and spans are kept in ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure as T  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "etl_cloud_batch_processing_spark"
SETUPS = 3
CORES = 4
# The driver heap, set through the program's own knob for it and fixed
# from the start (-Xms): with the program's default (8 GB maximum, grown
# on demand) the heap grows by a different amount in every run, and
# peak memory and times spread too widely to bound (see NOTES.md).
DRIVER_MEMORY = "2g"


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile."""
    s = sorted(values)
    if not s:
        return 0.0
    pos = (len(s) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total / (1024.0 * 1024.0)


class TracedLayers:
    """Per-op layer readings for traced iterations."""

    def __init__(self, spark, tracer: T.Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.counters = T.Counters()
        self.store = T.ExecStore(spark)
        self.listener = T.progress_listener()

    @contextlib.contextmanager
    def active(self):
        self.spark.streams.addListener(self.listener)
        self.store.mark()
        self.listener.take()
        try:
            with T.wrapped_layers(self.tracer, self.counters):
                yield
        finally:
            self.spark.streams.removeListener(self.listener)

    def after_op(self, e0: float, e1: float, pids_before: set[int]) -> dict:
        out = self.store.delta(e0, e1)
        starts, progress = self.listener.take()
        out.update(T.stream_totals(starts, progress))
        out.update(self.counters.take())
        out["streaming.py_workers_started"] = len(
            set(T.process_tree()) - pids_before)
        return out


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 work: str) -> None:
        self.wl, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.work = work
        self.spark = None
        self.tracer = T.Tracer()

    # ---------------------------------------------------------- session
    def start_session(self):
        """Start the program's session with its own engine config.  Set
        here: the places it writes to (all inside the work directory),
        the heap's initial size and the JIT thread count."""
        from etl_cloud_batch_processing_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf={
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "sql-wh"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={os.path.join(self.work, 'derby')}",
            "spark.ui.showConsoleProgress": "false",
        })
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def shutdown(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for every
        process this run started to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while len(T.process_tree()) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)

    # -------------------------------------------------------------- ops
    def run_op(self, op, tracer: T.Tracer) -> None:
        from etl_cloud_batch_processing_spark import plans
        from etl_cloud_batch_processing_spark.pipelines import (
            case_a, case_b, runner)

        spark, locs, wh = self.spark, self.locs, self.warehouse
        if op.kind == "query":
            spec = plans.REGISTRY[op.arg]
            with tracer.span("plans.builder"):
                df = spec.builder(spark, locs["fixtures"])
            with tracer.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
            return
        with tracer.span(f"pipelines.{op.kind}"):
            if op.kind == "case_a":
                runner.backfill(lambda ds: case_a.run(
                    spark, ds, locs["case_a"], wh), op.arg, op.arg)
            else:
                runner.backfill(lambda ds: case_b.run(
                    spark, ds, locs["case_b"], wh), op.arg, op.arg,
                    step_days=3)

    def iteration(self, index: int,
                  layers: "TracedLayers | None" = None) -> dict:
        """Run one iteration's ops in seed order; returns its record."""
        if os.path.isdir(self.warehouse):
            shutil.rmtree(self.warehouse)
        tracer = self.tracer if layers else T.Tracer()
        tracer.iteration = index
        rec: dict = {"index": index, "traced": layers is not None, "ops": []}
        pids = T.process_tree()
        cpu0, jit0 = T.cpu_seconds(pids), T.jit_seconds(pids)
        t_iter = time.perf_counter()
        for op in self.wl.ops(self.seed, index):
            tracer.op_id = len(tracer.spans)
            before = set(T.process_tree()) if layers else set()
            e0, t0 = time.time(), time.perf_counter()
            failed = False
            try:
                with tracer.span("op"):
                    self.run_op(op, tracer)
            except Exception:  # one failing op must not end the run
                failed = True
                print(f"perfbench: op {op.key} failed:\n"
                      f"{traceback.format_exc()}", file=sys.stderr)
            t1, e1 = time.perf_counter(), time.time()
            op_rec = {"key": op.key, "kind": op.kind, "rerun": op.rerun,
                      "s": t1 - t0, "failed": failed}
            if layers is not None:
                op_rec["layers"] = layers.after_op(e0, e1, before)
                op_rec["layers"]["op_s"] = t1 - t0
            rec["ops"].append(op_rec)
            self.spark.catalog.clearCache()
        rec["wall_s"] = time.perf_counter() - t_iter
        pids = T.process_tree()
        rec["jit_s"] = T.jit_seconds(pids) - jit0
        rec["cpu_s"] = T.cpu_seconds(pids) - cpu0 - rec["jit_s"]
        return rec

    # ------------------------------------------------------------ phases
    def setup(self, k: int) -> dict:
        """One set-up: a cold start (the JVM of an earlier set-up is
        stopped first, outside the timing), then input generation."""
        self.shutdown()
        t0 = time.perf_counter()
        self.spark = self.start_session()
        t1 = time.perf_counter()
        self.data_root = os.path.join(self.work, f"data{k}")
        self.locs = gen.generate(self.seed,
                                 os.path.join(self.data_root, "inputs"),
                                 self.wl.pipelines, self.wl.sf)
        self.warehouse = os.path.join(self.data_root, "warehouse")
        t2 = time.perf_counter()
        return {"s": t2 - t0, "session_s": t1 - t0, "gen_s": t2 - t1}

    @staticmethod
    def probe() -> float:
        """Box-speed probe: four threads hashing a fixed buffer.  It
        depends on nothing the program does, needs no warm-up, and
        reads lower when other load takes the box's cores; median of
        five."""
        buf = bytes(range(256)) * (1 << 16)

        def work() -> None:
            for _ in range(16):
                hashlib.sha256(buf).digest()

        times = []
        for _ in range(5):
            threads = [threading.Thread(target=work) for _ in range(CORES)]
            t0 = time.perf_counter()
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            times.append(time.perf_counter() - t0)
        return median(times)

    def gate(self) -> dict[str, str]:
        """Check every op once, outside the timed region; returns the
        failing op keys with the reason."""
        import gate as G
        from etl_cloud_batch_processing_spark import plans
        from etl_cloud_batch_processing_spark.pipelines import case_a, case_b

        con = G.connect(self.locs["fixtures"])
        failed: dict[str, str] = {}
        first = [o for o in self.wl.ops(self.seed, 0) if not o.rerun]
        for op in first:
            if op.kind != "query":
                continue
            try:
                why = G.check_query(self.spark, con, plans.REGISTRY[op.arg],
                                    self.locs["fixtures"])
            except Exception as exc:
                why = f"raised {exc!r}"
            self.spark.catalog.clearCache()
            if why:
                failed[op.key] = why
        # The measured iterations left every dated partition as its
        # re-run wrote it: check it, run it once more, and require the
        # same rows again.
        tables = {"case_a": case_a.MOST_SEARCHED,
                  "case_b": case_b.FINAL_TABLE}
        for op in first:
            if op.kind == "query":
                continue
            table = os.path.join(self.warehouse, tables[op.kind])
            try:
                why = G.check_pipeline(con, op.kind, op.arg, self.locs, table)
                before = G.partition_hash(con, table, op.arg)
                self.run_op(op, T.Tracer())
                after = G.partition_hash(con, table, op.arg)
                if before != after:
                    why = f"re-run changed the partition: {before} -> {after}"
                elif after[1] != after[2]:
                    why = (f"duplicate rows: {after[1]} rows, "
                           f"{after[2]} distinct")
            except Exception as exc:
                why = f"raised {exc!r}"
            self.spark.catalog.clearCache()
            if why:
                failed[op.key] = why
        return failed

    def execute(self) -> dict:
        setups = []
        for k in range(SETUPS):
            setups.append(self.setup(k))
            if k:
                shutil.rmtree(os.path.join(self.work, f"data{k - 1}"))
        # One pass on the last set-up, outside the measured window: the
        # JVM's JIT and Spark's code generation warm up here, in a fresh
        # JVM every run.  Its time is part of set-up.
        warm = self.iteration(0)
        probe_start = self.probe()
        layers = TracedLayers(self.spark, self.tracer) if self.trace else None
        iters: list[dict] = []
        t0 = time.perf_counter()
        index = 1
        while (time.perf_counter() - t0 < self.seconds
               or len(iters) < (2 if self.trace else 1)):
            if self.trace and index % 2 == 0:
                with layers.active():
                    iters.append(self.iteration(index, layers))
            else:
                iters.append(self.iteration(index))
            index += 1
        probe_end = self.probe()
        stored = dir_mb(self.data_root)
        out_mb = dir_mb(self.warehouse) if os.path.isdir(
            self.warehouse) else 0.0
        peak = T.peak_rss_mb(T.process_tree())
        return {"workload": self.wl.name, "seed": self.seed,
                "seconds": self.seconds, "trace": self.trace,
                "setups": setups, "warmup_s": warm["wall_s"],
                "warmup_failed": [o["key"] for o in warm["ops"]
                                  if o["failed"]],
                "iterations": iters,
                "probe_start_s": probe_start, "probe_end_s": probe_end,
                "stored_mb": stored, "stored_output_mb": out_mb,
                "peak_rss_mb": peak, "gate_failed": self.gate()}


# ------------------------------------------------------------ metrics

def outcome(rec: dict) -> tuple[int, int]:
    """(attempted, failed) over the measured ops.  An op fails when it
    raised, or when its output failed the correctness gate (then every
    measured run of it counts)."""
    bad = set(rec["gate_failed"])
    attempted = failed = 0
    for it in rec["iterations"]:
        for op in it["ops"]:
            attempted += 1
            base = op["key"].removesuffix(":rerun")
            failed += op["failed"] or base in bad
    return attempted, failed


def end_to_end(rec: dict, wl) -> dict[str, float]:
    iters = rec["iterations"]
    lat = [op["s"] for it in iters for op in it["ops"]]
    attempted, failed = outcome(rec)
    return {
        "setup_s": median(s["s"] for s in rec["setups"]) + rec["warmup_s"],
        "wall_s": median(it["wall_s"] for it in iters),
        "op_p50_ms": 1000.0 * median(lat),
        "op_tail_ms": 1000.0 * percentile(lat, wl.tail_pct),
        "cpu_s": median(it["cpu_s"] for it in iters),
        "peak_rss_mb": rec["peak_rss_mb"],
        "stored_mb": rec["stored_mb"],
        "op_ok_ratio": 1.0 - failed / attempted,
    }


def per_layer(rec: dict, names: list[str], spans: list[dict]) -> dict:
    traced = [it for it in rec["iterations"] if it["traced"]]
    plain = [it for it in rec["iterations"] if not it["traced"]]
    by_span: dict[tuple[int, str], float] = {}
    for s in spans:
        key = (s["iter"], s["name"])
        by_span[key] = by_span.get(key, 0.0) + (s["end"] - s["start"])

    def per_iter(fn) -> float:
        return median(fn(it) for it in traced)

    def layer_sum(key: str):
        return lambda it: sum(op["layers"].get(key, 0.0) for op in it["ops"])

    out: dict[str, float] = {}
    for name in names:
        if name.startswith(("exec.", "operators.", "streaming.",
                            "sources.")):
            out[name] = per_iter(layer_sum(name))
    for it in traced:
        for op in it["ops"]:
            lay = op["layers"]
            if lay.get("streaming.starts"):
                lay["streaming.start_overhead_s"] = (
                    lay["op_s"] - lay.get("streaming.trigger_s", 0.0))
    out["streaming.start_overhead_s"] = per_iter(
        layer_sum("streaming.start_overhead_s"))
    out["plans.builder_s"] = per_iter(
        lambda it: by_span.get((it["index"], "plans.builder"), 0.0))
    out["plans.exec_s"] = per_iter(
        lambda it: by_span.get((it["index"], "plans.exec"), 0.0))
    run_s = per_iter(layer_sum("exec.task_run_s"))
    out["exec.cpu_per_run"] = (per_iter(layer_sum("exec.task_cpu_s"))
                               / run_s if run_s else 0.0)
    batches = out["streaming.batches"]
    out["streaming.data_batch_ratio"] = (
        (batches - out["streaming.no_data_batches"]) / batches
        if batches else 0.0)
    rows = per_iter(layer_sum("sources.rows_written"))
    written = per_iter(layer_sum("sources.bytes_written"))
    out["sources.mb_written"] = written / (1024.0 * 1024.0)
    out["sources.bytes_per_row"] = written / rows if rows else 0.0
    out["sources.stored_output_mb"] = rec["stored_output_mb"]
    for kind in ("case_a", "case_b"):
        ops = [op for it in traced for op in it["ops"] if op["kind"] == kind]
        out[f"pipelines.{kind}.run_s"] = median(op["s"] for op in ops)
        out[f"pipelines.{kind}.jobs_per_run"] = median(
            op["layers"]["exec.jobs"] for op in ops)

    def rerun_ratio(it) -> float:
        first = sum(op["s"] for op in it["ops"]
                    if op["kind"] != "query" and not op["rerun"])
        again = sum(op["s"] for op in it["ops"] if op["rerun"])
        return again / first if first else 0.0

    out["pipelines.rerun_ratio"] = per_iter(rerun_ratio)
    out["session.start_s"] = median(s["session_s"] for s in rec["setups"])
    out["setup.gen_s"] = median(s["gen_s"] for s in rec["setups"])
    out["setup.warmup_s"] = rec["warmup_s"]
    out["jvm.jit_cpu_s"] = per_iter(lambda it: it["jit_s"])
    traced_wall = median(it["wall_s"] for it in traced)
    plain_wall = median(it["wall_s"] for it in plain)
    out["trace.wall_traced_s"] = traced_wall
    out["trace.wall_untraced_s"] = plain_wall
    out["trace.overhead_s"] = traced_wall - plain_wall
    out["probe.start_s"] = rec["probe_start_s"]
    out["probe.end_s"] = rec["probe_end_s"]
    out["probe.drift"] = rec["probe_end_s"] / rec["probe_start_s"] - 1.0
    out["ops.samples"] = float(sum(len(it["ops"])
                                   for it in rec["iterations"]))
    return {n: out[n] for n in names}


def work_dir(root: str) -> str:
    """Make this process's scratch directory under ``root`` and point
    every temporary file of Python, Spark and the JVM into it."""
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python's tempfile (stream sinks, checkpoints, the package zip) and
    # the Python workers follow TMPDIR; keep them inside the work dir.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Both JVMs spark-submit starts would otherwise write /tmp/hsperfdata.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # session.ENGINE_CONF reads the driver heap size from here.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    import tempfile
    tempfile.tempdir = None
    return work


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from "
              f"the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    wl = WORKLOADS[args.workload]
    runs_dir = os.path.join(root, ".perfbench", "runs")
    os.makedirs(runs_dir, exist_ok=True)
    work = work_dir(root)

    run = Run(wl, args.seed, args.seconds, bool(args.trace), work)
    try:
        rec = run.execute()
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = outcome(rec)
    if args.trace:
        names = [m["name"] for m in declared["per_layer"]]
        metrics = per_layer(rec, names, run.tracer.spans)
        units = {m["name"]: m["unit"] for m in declared["per_layer"]}
    else:
        metrics = end_to_end(rec, wl)
        units = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    stem = os.path.join(runs_dir, f"{wl.name}-seed{args.seed}-"
                        f"trace{args.trace}-{os.getpid()}")
    # A probe that moved more than the wall-time bound between the start
    # and the end of the run flags it: the box changed speed meanwhile.
    drift = rec["probe_end_s"] / rec["probe_start_s"] - 1.0
    bound = next(m["bound"] for m in declared["end_to_end"]
                 if m["name"] == "wall_s")
    rec["probe_flagged"] = abs(drift) > bound
    n = attempted
    print(f"perfbench: {wl.name} seed={args.seed} "
          f"iterations={len(rec['iterations'])} ops={n} "
          f"op_tail_ms=p{wl.tail_pct} of {n} samples "
          f"({n - int(n * wl.tail_pct / 100)} beyond) "
          f"probe start={rec['probe_start_s']:.4f}s "
          f"end={rec['probe_end_s']:.4f}s drift={drift:+.1%}")
    if rec["probe_flagged"]:
        msg = (f"perfbench: PROBE DRIFT {drift:+.1%} exceeds the wall_s "
               f"bound {bound:.0%}: box speed changed during this run")
        print(msg)
        print(msg, file=sys.stderr)
    rec["metrics"] = metrics
    with open(stem + ".json", "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    if args.trace:
        run.tracer.dump(stem + "-spans.jsonl")
    for key, why in rec["gate_failed"].items():
        print(f"perfbench: GATE {key}: {why}")
    print(json.dumps({
        "correct": not rec["gate_failed"] and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
