"""Tests for the benchmark's own helpers, plus tiny smoke runs of the
stream and of a batch mix (sf0.001, low rate, small burst).
Run: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import types

import numpy as np
import pytest

import batch
import harness as h
import loadgen
import run
import stream_wordcount


def test_latency_attributed_to_first_batch_covering_each_offset():
    due = {0: [10.0, 10.5, 11.0], 1: [10.2, 10.7]}
    batches = [
        {"end_offsets": {"0": 2, "1": 1}, "end_time": 12.0},
        {"end_offsets": {"0": 2, "1": 1}, "end_time": 13.0},  # nothing new
        {"end_offsets": {"0": 3, "1": 2}, "end_time": 14.0},
    ]
    latency, uncovered = h.attribute_latency(due, batches)
    assert uncovered == 0
    assert latency == pytest.approx({
        (0, 0): 2.0, (0, 1): 1.5, (1, 0): 1.8,
        (0, 2): 3.0, (1, 1): 3.3,
    })


def test_records_past_the_last_end_offset_are_uncovered():
    due = {0: [1.0, 2.0, 3.0], 1: [1.5]}
    latency, uncovered = h.attribute_latency(due, [{"end_offsets": {0: 1}, "end_time": 4.0}])
    assert latency == {(0, 0): 3.0}
    assert uncovered == 3


def test_percentiles_carry_their_sample_count():
    values = list(np.random.default_rng(0).random(1001))
    s = h.summary(values)
    assert s["n"] == 1001
    assert s["p50"] == pytest.approx(np.percentile(values, 50))
    assert s["p99"] == pytest.approx(np.percentile(values, 99))
    assert h.summary([]) == {"p50": 0.0, "p99": 0.0, "n": 0}
    assert h.percentile([3.0, 1.0], 50) == 2.0


def test_count_due():
    assert h.count_due([1.0, 2.0, 2.0, 3.0], 2.0) == 3
    assert h.count_due([1.0], 0.5) == 0


class _Target:
    def method(self, x):
        return self.inner(x) + 1

    def inner(self, x):
        return x * 2


def test_wrappers_installed_and_restored():
    module = types.ModuleType("fake_layer")
    module.fn = lambda x: x + 1
    original_fn, original_method = module.fn, _Target.__dict__["method"]
    tracer = h.Tracer()
    tracer.wrap(module, "fn", "layer.fn")
    tracer.wrap(_Target, "method", "layer.method")
    tracer.wrap(_Target, "inner", "layer.method")  # same name: nested, counted once
    assert tracer.installed == 3
    assert module.fn is not original_fn
    assert module.fn(1) == 2 and _Target().method(3) == 7
    assert len(tracer.durations("layer.fn")) == 1
    assert len(tracer.durations("layer.method")) == 1
    inner = [s for s in tracer.spans if s["name"] == "layer.method" and s["parent"] is not None]
    assert len(inner) == 1
    tracer.restore()
    assert tracer.installed == 0
    assert module.fn is original_fn
    assert _Target.__dict__["method"] is original_method


def test_layer_wrappers_restore_the_program_functions():
    import motorway_spark.session as session
    import motorway_spark.sqlapi as sqlapi
    from motorway_spark.pipeline import Pipeline
    from motorway_spark.sinks.upsert import UpsertParquetSink

    before = (session.get_session, sqlapi.sql, Pipeline.__dict__["compile"],
              UpsertParquetSink.__dict__["upsert_batch"], UpsertParquetSink.__dict__["read"])
    tracer = h.Tracer()
    h.install_layer_wrappers(tracer)
    assert session.get_session is not before[0]
    assert UpsertParquetSink.__dict__["upsert_batch"] is not before[3]
    tracer.restore()
    after = (session.get_session, sqlapi.sql, Pipeline.__dict__["compile"],
             UpsertParquetSink.__dict__["upsert_batch"], UpsertParquetSink.__dict__["read"])
    assert all(a is b for a, b in zip(before, after))


def test_schedule_is_open_loop_and_seeded():
    cfg = {"start": 100.0, "rate": 10, "prologue": 4, "timed_s": 2.0, "burst": 5}
    s = loadgen.Schedule(cfg)
    assert s.total == 4 + 20 + 5
    assert s.due_by(99.0) == 4
    assert s.due_by(100.0) == 5
    assert s.due_by(101.95) == 24
    assert s.due_by(102.0) == 29
    assert [s.due(i) for i in (4, 5, 24)] == [100.0, 100.1, 102.0]
    assert loadgen.sentences(7, 50) == loadgen.sentences(7, 50)
    assert loadgen.sentences(7, 50) != loadgen.sentences(8, 50)
    assert all(len(x.split(" ")) == loadgen.WORDS_PER_SENTENCE for x in loadgen.sentences(7, 50))


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((h.ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def _smoke(monkeypatch, workload, trace):
    args = run.parse_args(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)])
    return run.run_workload(args)


def test_smoke_stream(monkeypatch):
    monkeypatch.setattr(stream_wordcount, "RATE", 200)
    monkeypatch.setattr(stream_wordcount, "BURST", 400)
    monkeypatch.setattr(stream_wordcount, "WARMUP_S", 1.0)
    monkeypatch.setattr(stream_wordcount, "SETUP_REPS", 1)
    res = _smoke(monkeypatch, "stream_wordcount", trace=1)
    assert res["failed"] == 0 and not res["problems"]
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert res["layers"]["sink.commits"] >= 1
    assert res["tracer"].installed == 0


def test_smoke_batch(monkeypatch):
    monkeypatch.setitem(batch.MIXES, "batch_sql", ["q1_pricing_summary", "sql_facade_merge_dml"])
    monkeypatch.setitem(batch.SCALE, "batch_sql", 0.001)
    monkeypatch.setattr(batch, "SETUP_REPS", 1)
    res = _smoke(monkeypatch, "batch_sql", trace=1)
    assert res["failed"] == 0 and not res["problems"]
    assert res["attempted"] >= 4
    assert res["layers"]["sink.merge_s"] > 0
    assert res["layers"]["spark.jobs"] > 0
