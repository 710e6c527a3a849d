"""bench.py's harness on the test lake: the per-key function's wall and
layer record, a job guard read from that record, the plan dump that
reuses the last timed DataFrame, a ``--keys`` run that leaves the
record file alone, and the prior-round lookup's core-count match."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as entry
import bench
from tests.test_kcore import KCORE_JOBS_MAX

LAYER_FIELDS = {
    "construct_s",
    "plan_s",
    "execute_s",
    "jobs_construct",
    "jobs_total",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "task_s",
    "gc_s",
    "persisted_rdd_delta",
}


def test_run_key_wall_is_construct_plus_execute(spark, sf_dir):
    fn = entry.queries()["road_type_analytics"]
    wall, layers, _ = bench.run_key(spark, fn, sf_dir, 2)
    assert set(layers) == LAYER_FIELDS
    # Each span duration is rounded to the millisecond in the record.
    assert wall == pytest.approx(layers["construct_s"] + layers["execute_s"], abs=1.5e-3)
    assert layers["plan_s"] >= 0
    assert layers["jobs_total"] >= layers["jobs_construct"] >= 0
    assert layers["jobs_total"] > 0


def test_kcore_layers_within_job_guard(spark, sf_dir):
    _, layers, _ = bench.run_key(spark, entry.queries()["kcore_decompose"], sf_dir, 1)
    assert 0 < layers["jobs_total"] <= KCORE_JOBS_MAX, layers
    assert layers["jobs_total"] >= layers["jobs_construct"]


def test_keys_run_plans_and_record(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """A full run over a three-key registry writes the record; a
    ``--keys --plans`` run then writes the plan from the DataFrame its
    last timed run built (no construct beyond the timed ones) and leaves
    the record file byte-identical."""
    probe = "congestion_classify"
    real = entry.queries()
    calls = []

    def counted(spark, sf_dir):
        calls.append(1)
        return real[probe](spark, sf_dir)

    registry = {k: real[k] for k in ("road_type_analytics", "frames_features_bmp")}
    registry[probe] = counted
    monkeypatch.setattr(entry, "queries", lambda: dict(registry))
    timed = []

    def spy(spark, fn, sf_dir, runs):
        if fn is counted:
            timed.append(runs)
        return real_run_key(spark, fn, sf_dir, runs)

    real_run_key = bench.run_key
    monkeypatch.setattr(bench, "run_key", spy)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    record = tmp_path / "BENCH_FULL.json"

    bench.run(spark, sf_dir, [], record=str(record))
    full = json.loads(record.read_text())
    assert set(full["queries"]) == set(registry)
    assert set(full["layers"][probe]) == LAYER_FIELDS
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "layers" not in line and line["full_record"] == "BENCH_FULL.json"

    before = record.read_bytes()
    calls.clear()
    timed.clear()
    plans = tmp_path / "plans"
    bench.run(spark, sf_dir, ["--keys", probe, "--plans", str(plans)], record=str(record))
    assert record.read_bytes() == before
    assert "== Physical Plan ==" in (plans / f"{probe}.txt").read_text()
    assert len(calls) == sum(timed) > 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(printed["queries"]) == {probe}
    assert set(printed["layers"][probe]) == LAYER_FIELDS


def test_prev_bench_matches_core_count(tmp_path, monkeypatch):
    """The prior-round baseline is the newest earlier record measured
    on as many cores; ``BENCH_r12_c8.json`` sorts ahead of
    ``BENCH_r12.json`` but is no baseline for a 32-core run, and a
    4-core run has none."""
    (tmp_path / "PROGRESS.jsonl").write_text(json.dumps({"round": 13}) + "\n")
    for name, cpus, wall in (
        ("BENCH_r11.json", 32, 1.0),
        ("BENCH_r12.json", 32, 2.0),
        ("BENCH_r12_c8.json", 8, 3.0),
        ("BENCH_r13.json", 32, 4.0),  # this round's own artifact
    ):
        record = {"cpus": cpus, "parsed": {"queries": {"k": wall}}}
        (tmp_path / name).write_text(json.dumps(record))
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    assert bench._prev_bench(32) == ("BENCH_r12.json", {"k": 2.0})
    assert bench._prev_bench(8) == ("BENCH_r12_c8.json", {"k": 3.0})
    assert bench._prev_bench(4) is None
