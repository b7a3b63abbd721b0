"""The benchmark's workloads: which ops one iteration runs, and how.

An op is one timed unit: a registry query (builder call plus a noop
write) or one dated pipeline run.  Every workload is a closed loop from
one client: one Python driver issues its ops one after another on a
``local[4]`` session, and ``spark.catalog.clearCache()`` runs after
every op because a scheduled run pays for its persisted intermediates
each time.  The seed fixes the op order of every iteration.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import gen


@dataclass(frozen=True)
class Op:
    key: str    #: unique within an iteration
    kind: str   #: "query", or the pipeline name
    arg: str    #: query name, or run date
    rerun: bool = False


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: TESTDATA.md scale tier of the generated fixture tables
    sf: str = "sf0.01"
    case_a_days: int = 0
    case_b_runs: int = 0
    #: percentile reported as ``op_tail_ms``; fixed, so that it does not
    #: move between op kinds when a run fits more or fewer iterations.
    tail_pct: int = 90

    @property
    def pipelines(self) -> bool:
        return bool(self.case_a_days or self.case_b_runs)

    def ops(self, seed: int, iteration: int) -> list[Op]:
        rng = random.Random(seed * 7919 + iteration)
        first = ([Op(f"q:{q}", "query", q) for q in self.queries]
                 + [Op(f"case_a:{d}", "case_a", d)
                    for d in gen.case_a_days()[:self.case_a_days]]
                 + [Op(f"case_b:{d}", "case_b", d)
                    for d in gen.case_b_starts()[:self.case_b_runs]])
        rng.shuffle(first)
        # Every dated run repeats once, in the same order, after the
        # first pass: the idempotent re-run a scheduler retry makes.
        again = [Op(o.key + ":rerun", o.kind, o.arg, True)
                 for o in first if o.kind != "query"]
        return first + again


#: The batch window queries of ``plans/streams.py``; ``sql_mix`` always
#: runs all three.
WINDOW_QUERIES = ("tumbling_window_counts", "hopping_window_counts",
                  "session_windows_30m")

#: The ``plans/core.py`` and ``plans/analytics.py`` queries ``sql_mix``
#: runs: one per tenth of the warm-pass time of the family's queries that
#: run no Python code, chosen by ``profile_sql.select`` from the
#: per-query times measured by ``profile_sql.py`` and kept in
#: ``sql_mix_profile.json``.
SQL_MIX_PICKS = (
    "hll_user_rollup", "most_frequent_type_per_day", "nation_trade_volume",
    "promo_revenue_share", "props_typed_struct", "regional_revenue",
    "scd2_incremental_merge", "snapshot_diff_customers",
    "sql_scripting_threshold_search", "value_deciles_by_type")

WORKLOADS = {w.name: w for w in (
    # Read-only JVM path at sf0.1: scans, joins, shuffles and batch
    # windows.  It bypasses Python workers, driver loops, streaming and
    # writes, so it predicts no change for optimisations of those
    # layers.  Its family queries are SQL_MIX_PICKS, all three window
    # queries ride along.
    Workload("sql_mix", SQL_MIX_PICKS + WINDOW_QUERIES, sf="sf0.1",
             tail_pct=75),
    # The scheduled side of the project: Case A daily and Case B 3-day
    # step runs, each date run twice (the second is the idempotent
    # re-run); a manifest-committed merge-on-read delete; near-duplicate
    # clustering, which runs connected components on the convergence
    # runner; and two AvailableNow drains, one with JVM state (windows)
    # and one with Python state (applyInPandasWithState).
    Workload("etl_mix", (
        "mor_delete_snapshot_read", "near_dup_clusters",
        "streaming_tumbling_counts", "streaming_user_totals_stateful"),
        case_a_days=1, case_b_runs=1, tail_pct=75),
)}
