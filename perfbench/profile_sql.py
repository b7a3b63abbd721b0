"""Per-query cost profile of the ``sql_mix`` family, and the rule that
picks ``sql_mix``'s queries from it.

Run from the repository root:

    python3 perfbench/profile_sql.py --seed 1 --passes 3

It runs the 98 ``plans/core.py`` and ``plans/analytics.py`` registry
queries and the 3 batch window queries of ``plans/streams.py`` at sf0.1
on generated inputs, the way the benchmark runs an op (builder call,
``noop`` write, ``clearCache()``): one cold pass, then ``--passes`` warm
passes.  It writes every query's cold time, median warm time and
whether its physical plan evaluates Python code to
``perfbench/sql_mix_profile.json``, and prints the selection that
:func:`select` makes from the queries that do not.  ``workloads.py`` holds that selection;
``perfbench/tests`` checks that the two agree.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as R  # noqa: E402
from workloads import WINDOW_QUERIES, Workload  # noqa: E402

PROFILE = os.path.join(HERE, "sql_mix_profile.json")
FAMILY_MODULES = ("plans.core", "plans.analytics")
STRATA = 10
# Physical plan nodes that run Python code in Spark's Python workers.
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def family() -> list[str]:
    """The registry queries defined in ``plans/core.py`` and
    ``plans/analytics.py``, in registry order."""
    from etl_cloud_batch_processing_spark import plans

    def module(spec) -> str:
        # The registry wraps each builder; the wrapped function is the
        # closure cell that carries a module name.
        for cell in spec.builder.__closure__ or ():
            mod = getattr(cell.cell_contents, "__module__", None)
            if mod:
                return mod
        return ""

    return [name for name, spec in plans.REGISTRY.items()
            if module(spec).endswith(FAMILY_MODULES)]


def select(warm: dict[str, float], strata: int = STRATA) -> list[str]:
    """Sort the family by warm time, cut it into ``strata`` runs of
    consecutive queries that each carry an equal share of the family's
    summed warm time, and take the middle query of each run.

    Every pick so stands for one ``1/strata`` share of where the
    family's time goes: the few heavy queries sit in short runs of
    their own, the many light ones share a long run.
    """
    order = sorted(warm, key=lambda q: (warm[q], q))
    total = sum(warm.values())
    runs: list[list[str]] = [[] for _ in range(strata)]
    acc = 0.0
    for q in order:
        # The stratum of the query's time midpoint.
        mid = (acc + warm[q] / 2) / total
        runs[min(int(mid * strata), strata - 1)].append(q)
        acc += warm[q]
    return sorted(r[(len(r) - 1) // 2] for r in runs if r)


def python_plan(bench, query: str) -> str:
    """The physical plan of one registry query on the bench's inputs."""
    from etl_cloud_batch_processing_spark import plans

    df = plans.REGISTRY[query].builder(bench.spark, bench.locs["fixtures"])
    return df._jdf.queryExecution().executedPlan().toString()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, R.PACKAGE, "__init__.py")):
        print(f"profile_sql: no {R.PACKAGE}/ package under {root}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = R.work_dir(root)  # before the package reads its config
    queries = tuple(family()) + WINDOW_QUERIES
    wl = Workload("sql_family", queries, sf="sf0.1")
    bench = R.Run(wl, args.seed, 0, False, work)
    try:
        bench.setup(0)
        passes = [bench.iteration(i) for i in range(args.passes + 1)]
        python = {q: bool(PYTHON_NODE.search(python_plan(bench, q)))
                  for q in queries}
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    cold = {op["key"][2:]: op["s"] for op in passes[0]["ops"]}
    warm = {q: statistics.median(op["s"] for it in passes[1:]
                                 for op in it["ops"] if op["key"][2:] == q)
            for q in queries}
    failed = sorted({op["key"] for it in passes for op in it["ops"]
                     if op["failed"]})
    # sql_mix is the workload that bypasses Python workers, so the few
    # family queries that call them are not eligible.
    fam = {q: warm[q] for q in queries
           if q not in WINDOW_QUERIES and not python[q]}
    picked = select(fam)
    profile = {
        "seed": args.seed, "sf": wl.sf, "cores": R.CORES,
        "warm_passes": args.passes, "failed": failed,
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(it["wall_s"] for it in passes[1:]),
        "family_warm_s": sum(warm[q] for q in queries
                             if q not in WINDOW_QUERIES),
        "eligible_warm_s": sum(fam.values()),
        "picked_warm_s": sum(fam[q] for q in picked),
        "strata": STRATA, "picked": picked,
        "queries": {q: {"cold_s": round(cold[q], 4),
                        "warm_s": round(warm[q], 4),
                        "family": q not in WINDOW_QUERIES,
                        "python": python[q]}
                    for q in sorted(queries, key=lambda q: -warm[q])},
    }
    with open(PROFILE, "w") as fh:
        json.dump(profile, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: v for k, v in profile.items() if k != "queries"},
                     indent=1))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
