"""Self-tests of the query benchmark (no Spark session needed).

    python3 -m pytest qbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from qbench import datagen, run, trace  # noqa: E402
from qbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
with open(os.path.join(ROOT, "qbench", "warmup_curves.json")) as _f:
    CURVES = json.load(_f)


def test_output_line_schema():
    values = {k: 1.5 for k in run.END_TO_END}
    line = json.loads(json.dumps(run.result_line(True, 12, 0, values, run.END_TO_END)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert isinstance(line["attempted"], int) and line["attempted"] >= 1
    assert isinstance(line["failed"], int)
    for name, m in line["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert isinstance(m["value"], float)
        assert m["unit"] == run.END_TO_END[name]


@pytest.mark.parametrize("section, printed", [
    ("end_to_end", run.END_TO_END),
    ("per_layer", run.PER_LAYER),
])
def test_printed_metrics_match_benchmark_json(section, printed):
    declared = {m["name"]: m["unit"] for m in BENCHMARK[section]}
    assert declared == printed


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    assert BENCHMARK["paths"] == ["qbench"]


def test_per_layer_metrics_cover_the_declared_set():
    tracer = _synthetic_pass()
    layers = trace.pass_layers(tracer, [s for s in tracer.spans if s.name == "query"], cores=4)
    setup = {f"setup.{p}_s" for p in ("session", "registry", "catalog", "cache_fill")}
    assert set(layers) | setup | {"trace.overhead_s"} == set(run.PER_LAYER)


def _span(tracer, name, start, end, parent=None, query_id=None, **attrs):
    s = trace.Span(name, len(tracer.spans), parent.span_id if parent else None, query_id,
                   start, end, {"py4j_calls": 0, **attrs})
    tracer.spans.append(s)
    return s


def _synthetic_pass() -> trace.Tracer:
    """One query: wrapper [0, 4] holding build [0.5, 3.5] with a checkpoint
    [1, 2], catalyst [4, 4.5], exec [4.5, 10]."""
    t = trace.Tracer()
    stats = {f"{p}.{k}": 0 for p in trace.PHASES
             for k in ("jobs", "job_s", "evicted_stages") + trace.STAGE_COUNTERS}
    stats.update({"build.jobs": 3, "build.job_s": 0.75, "exec.jobs": 2, "exec.stages": 4,
                  "exec.task_run_s": 11.0})
    q = _span(t, "query", 0.0, 10.0, query_id=7, query="q_x", **stats)
    w = _span(t, "wrapper", 0.0, 4.0, q, 7)
    b = _span(t, "build", 0.5, 3.5, w, 7)
    b.attrs["py4j_calls"] = 120
    _span(t, "materialize.localCheckpoint", 1.0, 2.0, b, 7)
    _span(t, "catalyst", 4.0, 4.5, q, 7, analysis_s=0.1, optimization_s=0.2, planning_s=0.15)
    _span(t, "exec", 4.5, 10.0, q, 7)
    return t


def test_self_time_arithmetic():
    t = trace.Tracer()
    p = _span(t, "p", 0.0, 10.0)
    kids = [
        _span(t, "a", 1.0, 3.0, p),
        _span(t, "b", 2.0, 5.0, p),    # overlaps a: [1, 5] counted once
        _span(t, "c", 7.0, 8.0, p),
        _span(t, "d", 9.5, 12.0, p),   # runs past the parent: clipped to [9.5, 10]
    ]
    assert trace.self_time(p, kids) == pytest.approx(10 - 4 - 1 - 0.5)
    assert trace.self_time(p, []) == 10.0
    assert trace.self_time(kids[0], []) == 2.0


def test_pass_layers_on_synthetic_tree():
    t = _synthetic_pass()
    m = trace.pass_layers(t, [s for s in t.spans if s.name == "query"], cores=2)
    assert m["wrapper.s"] == pytest.approx(4.0 - 3.0)
    assert m["build.s"] == pytest.approx(3.0)
    assert m["build.share"] == pytest.approx(0.3)
    assert m["build.py4j_calls"] == 120
    assert (m["build.jobs"], m["build.job_s"]) == (3, 0.75)
    assert m["catalyst.optimization_s"] == pytest.approx(0.2)
    assert m["exec.s"] == pytest.approx(5.5)
    assert (m["exec.jobs"], m["exec.stages"]) == (2, 4)
    assert m["exec.core_busy_frac"] == pytest.approx(11.0 / (5.5 * 2))
    assert (m["materialize.calls"], m["materialize.s"]) == (1, pytest.approx(1.0))


def test_span_jsonl_schema(tmp_path):
    t = trace.Tracer()
    t.query_id = 3
    with t.span("query", query="q_x"):
        with t.span("wrapper"):
            with t.span("build"):
                t.py4j_calls += 5
        with t.span("exec"):
            pass
    path = tmp_path / "spans.jsonl"
    t.write_jsonl(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["query", "wrapper", "build", "exec"]
    ids = {r["span_id"] for r in rows}
    for r in rows:
        assert tuple(r) == trace.SPAN_KEYS
        assert r["query_id"] == 3
        assert r["parent_id"] is None or r["parent_id"] in ids
        assert isinstance(r["start_s"], float) and r["end_s"] >= r["start_s"]
        assert isinstance(r["attrs"]["py4j_calls"], int)
    assert rows[0]["parent_id"] is None and rows[0]["attrs"]["query"] == "q_x"
    assert rows[2]["parent_id"] == rows[1]["span_id"]
    assert rows[2]["attrs"]["py4j_calls"] == 5 and rows[0]["attrs"]["py4j_calls"] == 5


def test_warmup_trend_rejects_a_falling_window():
    assert run.warmup_trend([2.0, 2.1, 1.9, 2.0]) == pytest.approx(1.0, abs=0.05)
    falling = [8.0, 6.5, 5.5, 5.0, 4.6, 4.4]
    assert abs(run.warmup_trend(falling) - 1) > run.WARMUP_TREND_BOUND


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_configured_timed_window_is_past_warmup(name):
    """The recorded median curve (qbench/curves.py), cut at this workload's warm and
    timed pass counts, must not still trend."""
    wl = WORKLOADS[name]
    curve = CURVES[name]["median_s"]
    start = 1 + wl.warm_passes  # pass 0 is the cold pass
    window = curve[start:start + wl.timed_passes]
    assert len(window) == wl.timed_passes, "curve too short: re-record with more passes"
    assert abs(run.warmup_trend(window) - 1) <= run.WARMUP_TREND_BOUND


def test_datagen_is_seeded_and_sized():
    a, b, c = datagen.tables(5, 0.001), datagen.tables(5, 0.001), datagen.tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    rows = {t: a[t].num_rows for t in a}
    assert rows == {"region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
                    "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
                    "embeddings": 500}
    norms = [math.sqrt(sum(x * x for x in v)) for v in a["embeddings"]["embedding"].to_pylist()]
    assert all(abs(n - 1) < 1e-6 for n in norms)


def test_benchmark_json_contract():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                              "per_layer"}
    e2e = {m["name"]: m for m in BENCHMARK["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
