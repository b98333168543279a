"""Spans and Spark job accounting for the benchmark's traced run.

Spans are recorded at layer boundaries from the benchmark's side of each
call: the workload opens one per op phase, and ``Tracer.install`` wraps
the package's parser entry, the engine's DDL statements and metadata
refresh, and every backend instance the engine creates.  Each span holds its name, start,
end, the index of its parent span (same thread) and the op it belongs
to.  Spans stay in memory and are written out when the run ends.

Each op phase runs under its own Spark job group, read back through
``statusTracker`` once the listener bus has drained.  Jobs the engine
starts from its own thread pools carry no group; because ops run one
after another, the jobs with no group that appear during an op are that
op's untagged jobs.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

BACKEND_VERBS = (
    "create_generator", "initialize_models", "analyze_models",
    "logpdf_joint", "simulate_joint", "predict_confidence", "row_similarity",
    "column_dependence_probability", "column_mutual_information",
)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.status = sc.statusTracker()
        self.enabled = True   # off during the untraced passes of a traced run
        self.spans: list[tuple] = []   # (name, start, end, parent, op)
        self.calls: dict[str, list[float]] = defaultdict(list)
        self.ops: list[dict] = []
        self._op: dict | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()   # backends also run on engine pool threads
        self._undo: list = []

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        op = self._op["id"] if self._op else None
        with self._lock:   # reserve the index children point at
            stack.append(len(self.spans))
            self.spans.append(None)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            idx = stack.pop()
            self.spans[idx] = (name, t0, t1, parent, op)
            self.calls[name].append(t1 - t0)

    def _timed(self, fn, name):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def _patch(self, owner, attr, replacement) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def install(self) -> None:
        """Wrap the parser entry, DDL statements, the metadata refresh and
        the backends."""
        from bayeslite_spark import engine

        self._patch(engine, "parse_phrase",
                    self._timed(engine.parse_phrase, "parser.parse"))
        self._patch(engine.SparkBQL, "refresh_metadata_views",
                    self._timed(engine.SparkBQL.refresh_metadata_views,
                                "engine.refresh_metadata_views"))
        get_backend = engine.get_backend

        def traced_get_backend(name):
            be = get_backend(name)
            for verb in BACKEND_VERBS:
                if hasattr(be, verb):
                    setattr(be, verb, self._timed(getattr(be, verb), f"backends.{verb}"))
            return be

        self._patch(engine, "get_backend", traced_get_backend)
        execute = engine.SparkBQL.execute

        def traced_execute(eng, bql, *args, **kwargs):
            if not bql.lstrip().upper().startswith(("CREATE", "DROP")):
                return execute(eng, bql, *args, **kwargs)
            with self.span("engine.ddl"):
                return execute(eng, bql, *args, **kwargs)

        self._patch(engine.SparkBQL, "execute", traced_execute)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # -- ops and their Spark jobs ---------------------------------------------
    def _untagged(self) -> set[int]:
        return set(self.status.getJobIdsForGroup(None))

    def begin_op(self, kind: str) -> None:
        if not self.enabled:
            return
        self._drain()
        self._op = {"id": len(self.ops), "kind": kind, "phases": {},
                    "untagged_before": self._untagged()}

    @contextmanager
    def phase(self, name: str):
        """One layer of an op: a span plus a Spark job group of its own."""
        if not self.enabled or self._op is None:
            yield
            return
        group = f"perfbench-{self._op['id']}-{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            with self.span(name):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._op["phases"][name] = {"ms": (time.perf_counter() - t0) * 1e3,
                                        "group": group}

    def end_op(self, rows: int | None) -> None:
        """Close the op; ``rows`` is None when it failed."""
        if not self.enabled or self._op is None:
            return
        op, self._op = self._op, None
        self._drain()
        for ph in op["phases"].values():
            ph.update(self._job_counts(self.status.getJobIdsForGroup(ph.pop("group"))))
        untagged = sorted(self._untagged() - op.pop("untagged_before"))
        op["untagged"] = self._job_counts(untagged)
        op["rows"] = rows
        self.ops.append(op)

    def _drain(self) -> None:
        # Job and stage records reach the status store through the
        # listener bus, which runs behind the caller.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_counts(self, job_ids) -> dict:
        stages: set[int] = set()
        tasks = 0
        for jid in job_ids:
            info = self.status.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = self.status.getStageInfo(sid)
                if st and st.numCompletedTasks and sid not in stages:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(("name", "start", "end", "parent", "op"), s))
                                 for s in self.spans if s is not None],
                       "ops": self.ops}, f)
