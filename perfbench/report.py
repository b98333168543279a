"""Per-layer metrics of a traced run.

Every traced run prints the same metric names, so a layer a workload
leaves idle reads 0.  Times are means per op (``*_ms``) or per call
(parser, DDL, metadata refresh, backends); counts are means per op.
Failed ops are left out.
"""

from __future__ import annotations

import statistics

from perfbench.tracing import BACKEND_VERBS
from perfbench.workloads import BQL_QUERY, PIPELINE

LAYER_METRICS = (
    ("parser.parse_ms", "ms"),
    ("engine.execute_ms", "ms"),
    ("engine.execute_jobs", "count"),
    ("engine.ddl_ms", "ms"),
    ("engine.refresh_metadata_views_ms", "ms"),
    ("engine.fixture_s", "s"),
    ("spark.collect_ms", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.rows_per_op", "count"),
    ("spark.untagged_jobs", "count"),
    ("spark.jvm_peak_rss_mb", "MB"),
    ("operators.build_ms", "ms"),
    ("operators.build_jobs", "count"),
    ("session.start_s", "s"),
    ("session.load_tables_s", "s"),
    ("host.spin_ms", "ms"),
    ("warmup.first_pass_s", "s"),
    ("trace.overhead_pct", "%"),
) + tuple((f"backends.{verb}_ms", "ms") for verb in BACKEND_VERBS)

KIND_METRICS = tuple(
    (f"bql_query.{kind}.{m}", unit)
    for kind in BQL_QUERY for m, unit in (("ms", "ms"), ("jobs", "count"))
) + tuple(
    (f"pipeline.{q}.{m}", unit)
    for q in PIPELINE for m, unit in (("build_ms", "ms"), ("run_ms", "ms"),
                                      ("build_jobs", "count"), ("run_jobs", "count"))
)

PER_LAYER = LAYER_METRICS + KIND_METRICS


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _jobs(op, key="jobs") -> int:
    return sum(ph[key] for ph in op["phases"].values()) + op["untagged"][key]


def layer_metrics(workload: str, tracer, *, start_s, load_s, fixture_s,
                  spin_ms, first_pass_s, jvm_rss_mb, overhead) -> dict:
    ops = [op for op in tracer.ops if op["rows"] is not None]
    phase = {name: [op["phases"][name] for op in ops if name in op["phases"]]
             for name in ("engine.execute", "spark.collect", "operators.build")}

    def per_call_ms(name):
        return _mean(tracer.calls.get(name, ())) * 1e3

    values = {
        "parser.parse_ms": per_call_ms("parser.parse"),
        "engine.execute_ms": _mean(p["ms"] for p in phase["engine.execute"]),
        "engine.execute_jobs": _mean(p["jobs"] for p in phase["engine.execute"]),
        "engine.ddl_ms": per_call_ms("engine.ddl"),
        "engine.refresh_metadata_views_ms": per_call_ms("engine.refresh_metadata_views"),
        "engine.fixture_s": fixture_s,
        "spark.collect_ms": _mean(p["ms"] for p in phase["spark.collect"]),
        "spark.jobs_per_op": _mean(_jobs(op) for op in ops),
        "spark.stages_per_op": _mean(_jobs(op, "stages") for op in ops),
        "spark.tasks_per_op": _mean(_jobs(op, "tasks") for op in ops),
        "spark.rows_per_op": _mean(op["rows"] for op in ops),
        "spark.untagged_jobs": _mean(op["untagged"]["jobs"] for op in ops),
        "spark.jvm_peak_rss_mb": jvm_rss_mb,
        "operators.build_ms": _mean(p["ms"] for p in phase["operators.build"]),
        "operators.build_jobs": _mean(p["jobs"] for p in phase["operators.build"]),
        "session.start_s": start_s,
        "session.load_tables_s": load_s,
        "host.spin_ms": spin_ms,
        "warmup.first_pass_s": first_pass_s,
        "trace.overhead_pct": overhead * 100,
    }
    for verb in BACKEND_VERBS:
        values[f"backends.{verb}_ms"] = per_call_ms(f"backends.{verb}")

    by_kind: dict[str, list] = {}
    for op in ops:
        by_kind.setdefault(op["kind"], []).append(op)
    for kind, kops in by_kind.items():
        if workload == "pipeline":
            b = [op["phases"]["operators.build"] for op in kops]
            r = [op["phases"]["spark.collect"] for op in kops]
            values[f"pipeline.{kind}.build_ms"] = statistics.median(p["ms"] for p in b)
            values[f"pipeline.{kind}.run_ms"] = statistics.median(p["ms"] for p in r)
            values[f"pipeline.{kind}.build_jobs"] = statistics.median(p["jobs"] for p in b)
            values[f"pipeline.{kind}.run_jobs"] = statistics.median(
                p["jobs"] + op["untagged"]["jobs"] for p, op in zip(r, kops))
        else:
            values[f"bql_query.{kind}.ms"] = statistics.median(
                sum(p["ms"] for p in op["phases"].values()) for op in kops)
            values[f"bql_query.{kind}.jobs"] = statistics.median(_jobs(op) for op in kops)
    return {name: (values.get(name, 0.0), unit) for name, unit in PER_LAYER}
