"""The benchmark's two closed-loop workloads.

Each workload is one client issuing one op at a time.  ``setup(spark)``
prepares a fresh session (the run sets up several and keeps the last);
``steps()`` gives one pass in the order the workload seed fixed.  Every
pass of a run repeats the same ops, so each op's result must hash the same
on every pass.  An op returns ``(columns, rows)``; its latency runs from
the call into the package to the last collected row.

- ``bql_query``: the fourteen read statements of ``model_queries``, run
  through their registered ``get_queries()`` entries over the
  ``engine_for`` ensemble.
- ``pipeline``: three registered operator queries built through
  ``get_queries()`` and collected.
"""

from __future__ import annotations

import random
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable

BQL_QUERY = (
    "q50_bql_select", "q51_bql_estimate_corr", "q52_bql_pairwise_corr",
    "x53_bql_simulate", "x54_bql_density", "x55_bql_predictive_prob",
    "x56_bql_infer", "x57_bql_crosscat_dep", "x58_bql_similarity",
    "x59_bql_crosscat_simulate", "x60_bql_regress", "x63_bql_simulate_models",
    "q64_bql_estimate_groupby", "x64_bql_simulate_rowid",
)

# x54 and x64 as registered, but with the density point and the rowid set
# by the workload seed.  x54 keeps the round_floats its registered entry
# applies; x64's entry has none.
SEEDED_BQL = {
    "x54_bql_density": (
        "ESTIMATE PROBABILITY DENSITY OF l_quantity = {density} AS density_q, "
        "DEPENDENCE PROBABILITY OF l_quantity WITH l_discount AS dep_q_disc, "
        "MUTUAL INFORMATION OF l_quantity WITH l_discount AS mi_q_disc "
        "BY pop_li", True),
    "x64_bql_simulate_rowid": (
        "SIMULATE c_acctbal, c_mktsegment FROM pop_cc GIVEN rowid = {rowid} "
        "LIMIT 100", False),
}

PIPELINE = (
    "q01_pricing_summary",         # the floor: one aggregate, 0+2 jobs
    "q71_neardup_components",      # size-gated graph, 11 eager builder jobs
    "r71_spearman",                # ordered-scan caller
)


@dataclass
class Step:
    kind: str
    run: Callable[[], tuple[list[str], list]]


class Workload:
    """One pass is ``steps()``, in the same order on every pass."""

    # Ops keep speeding up for two passes (JIT, code generation, Python
    # workers): the second pass still runs 15-20% slower than the third.
    warmup_passes = 2
    # Timed passes at least, on top of --seconds.  Set so that every run
    # times the same number of passes on a 4-vCPU box: when a fast run fit
    # one more pass into --seconds, that warmer pass skewed its figures.
    min_passes = 3

    def __init__(self, sf_dir: str, seed: int, tracer=None):
        from bayeslite_spark.workload import get_oracles, get_queries

        self.sf_dir, self.tracer = sf_dir, tracer
        self.rng = random.Random(seed)
        self.queries = get_queries()
        self.order = self.rng.sample(self.names, len(self.names))
        self.oracle_names = tuple(q for q in self.names if q in get_oracles())

    def phase(self, name: str):
        return self.tracer.phase(name) if self.tracer else nullcontext()

    def setup(self, spark) -> None:
        """Prepare ``spark``, a session whose tables are loaded."""
        self.spark = spark

    def build(self, name: str):
        return self.queries[name](self.spark, self.sf_dir)

    def _run(self, name: str):
        with self.phase(self.build_phase):
            df = self.build(name)
        with self.phase("spark.collect"):
            rows = df.collect()
        return df.columns, rows

    def steps(self) -> list[Step]:
        return [Step(name, lambda n=name: self._run(n)) for name in self.order]


class BqlQuery(Workload):
    names = BQL_QUERY
    build_phase = "engine.execute"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.literals = {"density": self.rng.randint(5, 45),
                         "rowid": self.rng.randint(1, 1000)}

    def setup(self, spark) -> None:
        from bayeslite_spark.model_queries import engine_for

        super().setup(spark)
        self.eng = engine_for(spark, self.sf_dir)

    def build(self, name: str):
        if name not in SEEDED_BQL:
            return super().build(name)
        from bayeslite_spark.workload import round_floats

        stmt, rounded = SEEDED_BQL[name]
        df = self.eng.execute(stmt.format(**self.literals))
        return round_floats(df) if rounded else df


class Pipeline(Workload):
    names = PIPELINE
    build_phase = "operators.build"
    # Without the engine fits of bql_query's set-up, the JVM is still
    # warming here for several passes: with two warm-up passes, whole runs
    # differed by up to 1.7x in ops_per_s.
    warmup_passes = 4


WORKLOADS = {"bql_query": BqlQuery, "pipeline": Pipeline}
