"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload bql_query --seed 1 --seconds 10 --trace 0

The run starts a Spark session on ``local[<cpus>]`` and sets the workload
up ``SETUP_REPS`` times, each time in a new session over the same
SparkContext: ``load_tables``, plus a fresh ``engine_for`` fit for
``bql_query``.  It keeps the last set-up, runs its untimed warm-up passes,
then runs whole passes until the ops have been busy for ``--seconds``.
Every op's result is hashed outside its timing and must match the warm-up
pass; the warm-up results of the ops that carry a DuckDB oracle are
checked against it once.  ``--trace 0`` reports the end-to-end metrics.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics, with the traced/untraced pass-time ratio as the
tracing overhead.

The tables are the repository's sf0.01 test data, copied under
``perfbench/data``.  Everything the run writes stays under
``.bench_build/perfbench`` (or ``$CARGO_TARGET_DIR/perfbench``): the trace
files, and one scratch directory per run, removed when it ends.  The last
line of stdout is the JSON result; the exit code is 0 only when every
output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOAD_NAMES = ("bql_query", "pipeline")
# Set-ups per run; setup_s takes their median.  The first pays the cold
# JVM's class loading and JIT, so the median is a set-up in a warm JVM.
SETUP_REPS = 3


def _spin_ms() -> float:
    """A fixed pure-Python and numpy kernel: the host's speed right now."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    a = np.arange(160_000, dtype=np.float64).reshape(400, 400) % 13
    for _ in range(4):
        a = (a @ a) % 13
    return (time.perf_counter() - t0) * 1e3


def _peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident memory of this process, or of ``pid`` (the JVM)."""
    if pid is None:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024


class Runner:
    def __init__(self, args, scratch: str):
        self.args, self.scratch, self.sf_dir = args, scratch, DATA
        self.attempted = self.failed = 0
        self.ref: dict[str, tuple[str, list[str], list]] = {}

    def run_pass(self, wl, tracer) -> list[float]:
        """One pass; returns the seconds of each timed op that succeeded."""
        from tools.check_oracle import value_hash

        out = []
        for step in wl.steps():
            self.attempted += 1
            if tracer:
                tracer.begin_op(step.kind)
            t0 = time.perf_counter()
            try:
                cols, rows = step.run()
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                self.failed += 1
                if tracer:
                    tracer.end_op(None)
                continue
            dt = time.perf_counter() - t0
            if tracer:
                tracer.end_op(len(rows))
            rows = [tuple(r) for r in rows]
            h = value_hash(cols, rows)
            if step.kind not in self.ref:
                self.ref[step.kind] = (h, cols, rows)
            elif self.ref[step.kind][0] != h:
                print(f"perfbench: {step.kind} result differs from its first pass",
                      file=sys.stderr)
                self.failed += 1
            out.append(dt)
        return out

    def check_oracles(self, names) -> None:
        """Compare the first-pass results against the DuckDB oracles."""
        import duckdb

        from bayeslite_spark.session import TABLES
        from bayeslite_spark.workload import get_oracles
        from tools.check_oracle import value_hash

        oracles = get_oracles()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t)}.parquet'")
            for name in names:
                if name not in self.ref:
                    continue   # the op itself failed and is already counted
                h, cols, rows = self.ref[name]
                rel = con.sql(oracles[name])
                orows = rel.fetchall()
                ocols = [d[0] for d in rel.description]
                if len(orows) != len(rows) or value_hash(ocols, orows) != h:
                    print(f"perfbench: {name} does not match its DuckDB oracle",
                          file=sys.stderr)
                    self.failed += 1
        finally:
            con.close()

    def measure(self) -> dict:
        from bayeslite_spark.session import get_spark, load_tables

        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS

        args = self.args
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t0
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        jvm = sc._gateway.proc
        tracer = Tracer(sc) if args.trace else None
        try:
            if tracer:
                tracer.install()
            wl = WORKLOADS[args.workload](self.sf_dir, args.seed, tracer)
            load, fixture = [], []
            for rep in range(SETUP_REPS):
                # A new session has its own table and engine caches, and a
                # fresh artifact directory makes engine_for fit, not reopen.
                os.environ["SPARK_GRAFT_BQL_ARTIFACT_DIR"] = os.path.join(
                    self.scratch, f"artifacts-{rep}")
                session = spark.newSession()
                t0 = time.perf_counter()
                load_tables(session, self.sf_dir)
                t1 = time.perf_counter()
                wl.setup(session)
                load.append(t1 - t0)
                fixture.append(time.perf_counter() - t1)
            setup_s = start_s + statistics.median(a + b for a, b in zip(load, fixture))

            if tracer:
                tracer.enabled = False
            t0 = time.perf_counter()
            self.run_pass(wl, None)
            first_pass_s = time.perf_counter() - t0
            for _ in range(wl.warmup_passes - 1):
                self.run_pass(wl, None)

            busy, spins, lat = 0.0, [], []
            pass_s: dict[bool, list[float]] = {False: [], True: []}
            n = 0
            # A traced run goes untraced, traced, untraced, ... and ends
            # untraced, so warm-up drift cancels out of the overhead ratio.
            while (busy < args.seconds or n < wl.min_passes
                   or (args.trace and (n < 3 or n % 2 == 0))):
                traced = bool(args.trace) and n % 2 == 1
                n += 1
                spins.append(_spin_ms())
                if tracer:
                    tracer.enabled = traced
                ops = self.run_pass(wl, tracer if traced else None)
                if not ops:
                    raise RuntimeError("every op of a pass failed")
                pass_s[traced].append(sum(ops))
                busy += pass_s[traced][-1]
                if not traced:
                    lat += ops
            rss_mb, jvm_rss_mb = _peak_rss_mb(), _peak_rss_mb(jvm.pid)
            if tracer:
                tracer.enabled = False
            self.check_oracles(wl.oracle_names)
        finally:
            if tracer:
                tracer.uninstall()
            spark.stop()
            sc._gateway.shutdown()
            jvm.stdin.close()   # the JVM exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()

        if args.trace:
            from perfbench.report import layer_metrics

            metrics = layer_metrics(
                args.workload, tracer, start_s=start_s,
                load_s=statistics.median(load), fixture_s=statistics.median(fixture),
                spin_ms=statistics.median(spins), first_pass_s=first_pass_s,
                jvm_rss_mb=jvm_rss_mb,
                overhead=statistics.median(pass_s[True]) / statistics.median(pass_s[False]) - 1)
            tracer.write(os.path.join(
                os.path.dirname(self.scratch),
                f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            ms = [dt * 1e3 for dt in lat]
            metrics = {
                "latency_p50_ms": (statistics.median(ms), "ms"),
                # Inclusive, so p90 never reads above the slowest op.
                "latency_p90_ms": (statistics.quantiles(ms, n=10, method="inclusive")[-1],
                                   "ms"),
                "ops_per_s": (len(ms) / busy, "1/s"),
                "setup_s": (setup_s, "s"),
                "driver_peak_rss_mb": (rss_mb, "MB"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "bayeslite_spark")):
        print(f"perfbench: no bayeslite_spark package under {ROOT}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT]
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                         "perfbench")
    os.makedirs(build, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=build)
    # Spark's Python workers import the package only through PYTHONPATH:
    # the driver's sys.path does not reach them (ROADMAP carried item 4).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Runner.measure gives each set-up its own SPARK_GRAFT_BQL_ARTIFACT_DIR
    # in here too, so a run never reads or writes the repo's
    # .bench_artifacts.
    os.environ["SPARK_GRAFT_FIXTURE_DIR"] = os.path.join(scratch, "fixtures")
    os.environ["TMPDIR"] = tempfile.tempdir = scratch
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={scratch}/local "
        f"--conf spark.sql.warehouse.dir={scratch}/warehouse "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # Every JVM, the launcher's too: temp files in the scratch directory,
    # and no hsperfdata file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    try:
        result = Runner(args, scratch).measure()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
