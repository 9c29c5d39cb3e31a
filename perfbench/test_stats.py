"""Tests of the benchmark's statistics, steadiness rules, span
accounting and metric contract. No Spark: run with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from tracing import Span, Tracer  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_min_samples_leaves_ten_beyond_the_percentile():
    assert stats.min_samples(50) == 1
    assert stats.min_samples(75) == 40
    assert stats.min_samples(90) == 100
    assert stats.min_samples(99) == 1000
    with pytest.raises(ValueError):
        stats.min_samples(100)


def test_percentile_refuses_unsupported_sample_counts():
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile([], 50) is None
    assert stats.percentile([3.0], 50) == 3.0


def test_percentile_nearest_rank_and_median():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(values, 50) == statistics.median(values)
    assert stats.percentile(list(reversed(values)), 90) == 90.0


def test_percentile_of_metric_names():
    assert stats.percentile_of("latency_p90_ms") == 90
    assert stats.percentile_of("latency_p50_ms") == 50
    assert stats.percentile_of("ops_per_s") is None
    assert stats.percentile_of("setup_s") is None


def test_spread_is_interquartile_share_of_median():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.2, 9.8]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert stats.spread(values) == pytest.approx((q3 - q1) / med)
    assert stats.spread([5.0]) == 0.0
    assert stats.spread([5.0, 5.0, 5.0]) == 0.0


def _metric(name: str, bound: float = 0.15) -> dict:
    return {"name": name, "unit": "ms", "better": "lower", "bound": bound}


def test_verdicts():
    tight = [100.0, 101.0, 99.0, 100.5, 99.5]
    loose = [100.0, 130.0, 70.0, 120.0, 80.0]
    assert stats.verdict(_metric("ops_per_s"), tight, [50] * 5)["status"] == "steady"
    assert stats.verdict(_metric("ops_per_s"), loose, [50] * 5)["status"] == "noisy"
    mid = [100.0, 104.0, 96.0, 103.0, 97.0]  # spread 6%: above 15%/3, below 15%
    assert stats.verdict(_metric("ops_per_s"), mid, [50] * 5)["status"] == "within-bound"
    assert stats.verdict(_metric("setup_s", 0.25), loose, [50] * 5)["status"] == "exempt"


def test_verdict_refuses_percentile_without_samples():
    v = stats.verdict(_metric("latency_p90_ms"), [1.0, 1.0, 1.0], [120, 99, 130])
    assert v["status"] == "refused"
    assert "100" in v["why"]
    ok = stats.verdict(_metric("latency_p90_ms"), [1.0, 1.0, 1.0], [120, 100, 130])
    assert ok["status"] == "steady"


def test_self_time_subtracts_direct_children():
    t = Tracer()
    t.spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("engine.sql", 1.0, 5.0, 0, 0),
        Span("compiler.compile", 2.0, 4.0, 1, 0),
        Span("topics.topic", 2.5, 3.5, 2, 0),
        Span("engine.execute", 5.0, 9.5, 0, 0),
    ]
    st = t.self_times()
    assert st[(0, "op")] == pytest.approx(1.5)
    assert st[(0, "engine.sql")] == pytest.approx(2.0)
    assert st[(0, "compiler.compile")] == pytest.approx(1.0)
    assert st[(0, "topics.topic")] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_wrap_records_nested_spans_and_restores():
    ns = types.SimpleNamespace(inner=lambda x: x + 1)
    ns.outer = lambda x: ns.inner(x) * 2
    original = ns.inner
    t = Tracer()
    t.wrap(ns, "inner", "inner", note=lambda r: r)
    t.op = 7
    with t.span("op"):
        assert ns.outer(1) == 4
    assert [(s.name, s.parent, s.op, s.note) for s in t.spans] == [
        ("op", None, 7, None),
        ("inner", 0, 7, 2),
    ]
    t.restore()
    assert ns.inner is original


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in SPEC[key]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    assert 2 <= len(SPEC["workloads"]) <= 8
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_traced_run_reports_every_per_layer_metric():
    import run

    got = run._layer_metrics(Tracer(), types.SimpleNamespace(), [], [], [], 0, 4, 0)
    assert set(got) == {m["name"] for m in SPEC["per_layer"]}
