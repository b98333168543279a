"""bench.py's output contract: the summary is always the last stdout line."""

from __future__ import annotations

import json


def test_finish_prints_summary_last_with_bad_cpus(tmp_path, monkeypatch, capsys):
    """A non-integer SPARK_GRAFT_CPUS used to raise ValueError inside the
    sidecar write and kill the run before its summary line."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "abc")
    summary = {"metric": "workload_total_sec", "value": 1.5}
    bench.finish(summary, {"q01": 1.5}, str(tmp_path))
    captured = capsys.readouterr()
    lines = captured.out.strip().splitlines()
    assert json.loads(lines[-1]) == summary
    assert json.loads(lines[0])["queries"] == {"q01": 1.5}
    assert "sidecar write failed" in captured.err


def test_finish_writes_sidecars(tmp_path, monkeypatch, capsys):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    summary = {"metric": "workload_total_sec", "value": 2.0}
    bench.finish(summary, {"q01": 2.0}, str(tmp_path))
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == summary
    for name in ("BENCH_QUERIES.json", "BENCH_QUERIES_c4.json"):
        rec = json.loads((tmp_path / name).read_text())
        assert rec["cpus"] == 4 and rec["queries"] == {"q01": 2.0}
