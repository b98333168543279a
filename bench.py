"""Benchmark runner: every registered workload query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from bayeslite_spark.session import get_spark
    from bayeslite_spark.workload import get_queries

    spark = get_spark("bench")
    qs = get_queries()

    # Warm the JVM/session on the smallest scale factor so per-query times
    # measure the plan, not session startup.
    warm = qs["q01_pricing_summary"](spark, "/root/testdata/sf0.001")
    warm.collect()

    timings: dict[str, float] = {}

    # The BQL-engine fixture (populations + generators + model fits) is
    # ANALYZE-phase work shared by every q5x/q6x query; time it once under
    # its own key instead of billing it to whichever query runs first.
    from bayeslite_spark.model_queries import engine_for

    t0 = time.time()
    try:
        engine_for(spark, sf_dir)
        timings["_bql_engine_setup"] = round(time.time() - t0, 3)
    except Exception as e:  # noqa: BLE001
        print(f"bench error _bql_engine_setup: {e}", file=sys.stderr)
        timings["_bql_engine_setup"] = -1.0

    # x70's MLlib fit is ANALYZE-phase work (like the BQL engine setup):
    # pre-fit under its own key so the per-query number measures the
    # codegen scoring plan, not the one-off L-BFGS fit.
    from bayeslite_spark.operators.quality_model import prefit_quality_model

    t0 = time.time()
    try:
        prefit_quality_model(spark, sf_dir)
        timings["_x70_quality_fit"] = round(time.time() - t0, 3)
    except Exception as e:  # noqa: BLE001
        print(f"bench error _x70_quality_fit: {e}", file=sys.stderr)
        timings["_x70_quality_fit"] = -1.0

    # Two passes in stable name order; report the warm (min) time per
    # query so round-over-round comparison measures the PLAN, not session
    # load, JIT warmup, or first-touch parquet-footer reads.  Any query
    # whose passes disagree by >3x is flagged "contended" (GC pause,
    # noisy neighbor, first-touch page cache) so round-over-round
    # comparisons can exclude unstable entries mechanically.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    all_passes: dict[str, list[float]] = {}
    for _ in range(passes):
        for name, fn in sorted(qs.items()):
            t0 = time.time()
            try:
                fn(spark, sf_dir).collect()
                dt = round(time.time() - t0, 3)
                prev = timings.get(name)
                timings[name] = dt if prev is None or prev < 0 else min(prev, dt)
                all_passes.setdefault(name, []).append(dt)
            except Exception as e:  # noqa: BLE001
                print(f"bench error {name}: {e}", file=sys.stderr)
                timings.setdefault(name, -1.0)

    def _disagree(ts: list[float]) -> bool:
        # After the tie-break pass, judge on the TWO FASTEST passes: a
        # cold first pass (plan compile / first-touch IO) is expected to
        # be slow and must not flag a query whose repeated warm passes
        # agree; only genuinely bimodal timings keep the flag.
        fastest = sorted(t for t in ts if t > 0)[:2]
        return (len(fastest) >= 2
                and fastest[1] / fastest[0] > 3.0)

    def _contended() -> list[str]:
        return sorted(
            name for name, ts in all_passes.items()
            if len(ts) >= 2 and min(ts) > 0 and _disagree(ts)
        )

    # Entries whose first two passes disagree >3x get ONE tie-break pass
    # (GC pause / noisy neighbor / first-touch page cache on either side):
    # the committed number becomes a 3-way min, and only genuinely bimodal
    # entries stay flagged "contended".
    retried = []
    if passes >= 2:
        for name in _contended():
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).collect()
                dt = round(time.time() - t0, 3)
                timings[name] = min(timings[name], dt)
                all_passes[name].append(dt)
                retried.append(name)
            except Exception as e:  # noqa: BLE001
                print(f"bench error {name} (retry): {e}", file=sys.stderr)
    contended = _contended()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    summary = {
        "metric": "workload_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # coverage grows round over round; compare totals per query
        "n_queries": len(timings),
        "mean_query_sec": round(total / max(len(timings), 1), 3),
        "contended": contended,
        "n_retried": len(retried),
    }
    finish(summary, timings, os.path.dirname(os.path.abspath(__file__)))


def finish(summary: dict, timings: dict, here: str) -> None:
    """Print the full result line, write the per-query sidecars into
    ``here``, and print the summary again as the LAST stdout line — on
    every path: a sidecar failure only warns."""
    print(json.dumps({**summary, "queries": timings}))
    # The per-query map pushes the full line past the driver's tail-capture
    # window (BENCH_r06 recorded "parsed": null; the window is 2000 chars, a
    # 290-entry map is ~9 KB, so it can NEVER fit the last line) — repeat the
    # summary WITHOUT the map as the LAST line so the driver's record parses
    # mechanically, and ALSO write the full summary + per-query map to a
    # sidecar file next to bench.py so per-query / scaling comparisons have a
    # machine-readable source (round-9 verdict item 1).  One file per core
    # count so the main and low-core runs don't clobber each other.
    try:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        record = {**summary, "cpus": int(cpus) if cpus else None,
                  "queries": timings}
        names = ["BENCH_QUERIES.json"]          # latest run, fixed name
        if cpus:
            names.append(f"BENCH_QUERIES_c{cpus}.json")  # per-core-count
        for name in names:
            sidecar = os.path.join(here, name)
            tmp = sidecar + ".tmp"
            with open(tmp, "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
                f.write("\n")
            os.replace(tmp, sidecar)
    except (OSError, ValueError, TypeError) as e:
        # a malformed SPARK_GRAFT_CPUS (int() raises) must not cost the
        # summary line below
        print(f"bench warning: sidecar write failed: {e}", file=sys.stderr)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
