"""Unit pins for bench.py's self-correcting gate block (r13, r12
verdict ask #2) — pure-function tests, no Spark session.

The retry decision and the attempt merge are the round's headline
bench change; a regression here silently turns the gate artifact back
into the r12 failure mode (a contended box's numbers recorded as the
metrics of record with no correction), so both are pinned at the
decision-table level.  The measurement helpers every probe extra and
every column go through (``_extra``, ``_column``) are pinned with fake
probes and a fake clock.
"""

from __future__ import annotations

import importlib.util
import sys

import pytest

spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
bench = importlib.util.module_from_spec(spec)
sys.modules["bench"] = bench
spec.loader.exec_module(bench)


def _attempt(calib: float, pipe: float = 300.0, exact: float = 0.3) -> dict:
    return {
        "pipeline_docs_per_sec": pipe,
        "bulk_load_rows_per_sec": 10_000.0,
        "knn_exact_sec_per_query": exact,
        "ann_range_sec_per_query": 0.25,
        "ann_range_tuned_sec_per_query": 0.2,
        "ann_similarity_sec_per_query": 0.9,
        "ann_range_recall_at_10": 0.24,
        "gate_calib_cpu_sec": calib,
    }


def test_retry_decision_table():
    f = bench._gate_should_retry
    # quiet box, no flags, quiet start: bank the attempt
    assert not f(1.0, {}, 0, False)
    assert not f(1.49, {}, 0, False)
    # drift over threshold: retry regardless of attempt index
    assert f(1.51, {}, 0, False)
    assert f(2.0, {}, 2, False)
    # any gate row self-flagged: retry
    assert f(1.0, {"pipeline_docs_per_sec": 2.3}, 1, False)
    # contended start forces a second attempt, but only on the first
    assert f(1.0, {}, 0, True)
    assert not f(1.0, {}, 1, True)


def test_merge_single_clean_attempt_is_identity_with_norm_one():
    a = _attempt(calib=1.0)
    out = bench._merge_gate_attempts([a], [{}], calib_cpu_sec=1.2)
    assert out["gate_attempts"] == 1
    # quiet box (drift < 1): normalization clamps to 1, normalized
    # columns EQUAL the raw ones
    assert out["gate_drift_norm_factor"] == 1.0
    for m in bench.GATE_THROUGHPUT:
        assert out[m + "_drift_normalized"] == out[m]
    for m in bench.GATE_LATENCY:
        assert out[m + "_drift_normalized"] == out[m]
    # no audit keys on a single attempt
    assert "gate_attempt_metrics" not in out
    assert "gate_attempt_contended" not in out


def test_merge_takes_best_per_metric_and_keeps_audit_trail():
    slow = _attempt(calib=3.0, pipe=180.0, exact=0.6)
    fast = _attempt(calib=1.0, pipe=360.0, exact=0.3)
    flags = [{"pipeline_docs_per_sec": 2.2}, {}]
    out = bench._merge_gate_attempts([slow, fast], flags, calib_cpu_sec=1.0)
    # throughput max, latency min — across attempts
    assert out["pipeline_docs_per_sec"] == 360.0
    assert out["knn_exact_sec_per_query"] == 0.3
    # deterministic companions ride the cleanest attempt
    assert out["ann_range_recall_at_10"] == 0.24
    assert out["gate_calib_cpu_sec"] == 1.0
    # audit trail present when >1 attempt ran
    assert out["gate_attempts"] == 2
    assert out["gate_attempt_metrics"] == [slow, fast]
    assert out["gate_attempt_contended"] == flags


def test_round_extra_survives_multi_attempt_audit_columns():
    """The r13 inherited crash: a merged multi-attempt gate block puts
    LIST-valued audit columns into results, and the artifact
    serialization must not round() them — the bug destroyed a complete
    ~25-min bench run at the final print, firing exactly when the gate
    self-correction did (i.e. only on a contended box)."""
    slow = _attempt(calib=3.0, pipe=180.0, exact=0.6)
    fast = _attempt(calib=1.0, pipe=360.0, exact=0.3)
    merged = bench._merge_gate_attempts(
        [slow, fast], [{"pipeline_docs_per_sec": 2.2}, {}], calib_cpu_sec=1.0
    )
    results = {"calib_cpu_sec": 1.2345678, **merged}
    out = bench._round_extra(results)
    assert out["calib_cpu_sec"] == 1.234568
    assert out["gate_attempt_metrics"] == [slow, fast]  # passed through
    import json

    json.dumps(out)  # JSON-serializable end to end


def test_merge_normalization_scales_by_cleanest_drift():
    a = _attempt(calib=2.0, pipe=200.0, exact=0.5)
    out = bench._merge_gate_attempts([a], [{}], calib_cpu_sec=1.0)
    assert out["gate_drift_norm_factor"] == pytest.approx(2.0)
    assert out["pipeline_docs_per_sec_drift_normalized"] == pytest.approx(
        400.0
    )
    assert out["knn_exact_sec_per_query_drift_normalized"] == pytest.approx(
        0.25
    )


class _Rows:
    """A probe result: ``collect()`` yields one ``vec_id`` row per id."""

    def __init__(self, ids):
        self.ids = ids

    def collect(self):
        return [{"vec_id": i} for i in self.ids]


def _probe(answers: dict, calls: list):
    def probe(q):
        calls.append(q)
        return _Rows(answers[q])

    return probe


def _fake_timed(monkeypatch, times):
    """``bench._timed`` returning the given durations in turn."""
    it = iter(times)
    monkeypatch.setattr(bench, "_timed", lambda fn: (next(it), fn()))
    monkeypatch.setattr(bench, "_CONTENDED_EXTRA", {})


def test_extra_recall_is_mean_overlap_with_truth(monkeypatch):
    _fake_timed(monkeypatch, [0.8, 0.6])
    store, calls = {}, []
    answers = {0: [1, 2, 3, 4], 1: [5, 6]}
    truth = [{1, 2, 9, 10}, {5, 6}]
    sets = bench._extra(store, "x", _probe(answers, calls), [0, 1], truth)
    assert sets == [{1, 2, 3, 4}, {5, 6}]
    # (2/4 + 2/2) / 2
    assert store["x_recall_at_10"] == pytest.approx(0.75)


def test_extra_sec_per_query_is_best_run_over_queries(monkeypatch):
    _fake_timed(monkeypatch, [0.8, 0.6])
    store, calls = {}, []
    bench._extra(store, "x", _probe({0: [1], 1: [2]}, calls), [0, 1])
    assert store == {"x_sec_per_query": pytest.approx(0.3)}
    assert calls == [0, 1, 0, 1]  # two timed runs
    assert bench._CONTENDED_EXTRA == {}


def test_extra_flags_a_run_over_2x_slower(monkeypatch):
    _fake_timed(monkeypatch, [3.0, 1.0])
    store = {}
    bench._extra(store, "x", _probe({0: [1]}, []), [0])
    assert store["x_sec_per_query"] == pytest.approx(1.0)
    assert bench._CONTENDED_EXTRA == {"x_sec_per_query": 3.0}


def test_extra_untimed_runs_once_and_writes_no_timing(monkeypatch):
    _fake_timed(monkeypatch, [])  # any _timed call would raise
    store, calls = {}, []
    sets = bench._extra(
        store, "x", _probe({0: [1, 2], 1: [3]}, calls), [0, 1],
        truth=[{1, 2}, {4}], timed=False,
    )
    assert calls == [0, 1]
    assert sets == [{1, 2}, {3}]
    assert store == {"x_recall_at_10": pytest.approx(0.5)}


def test_column_best_of_2_per_row_and_flags(monkeypatch):
    class _Registry:
        @staticmethod
        def queries():
            return {"a": lambda s, d: _Rows([]), "b": lambda s, d: _Rows([])}

    _fake_timed(monkeypatch, [1.23456, 1.0, 5.0, 2.0])
    monkeypatch.setattr(bench, "registry", _Registry)
    times, contended = bench._column(None, ["a", "b"], "/data")
    assert times == {"a": 1.0, "b": 2.0}
    assert contended == {"b": 2.5}
