"""Tests of the benchmark itself.

The span and check tests run without Spark. The smoke tests run the
real command once per workload (one to two minutes each) from the
repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import check  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# the documented span-dump record
SPAN_FIELDS = {"run_id", "span_id", "parent_id", "name", "start", "end", "pass_no", "attrs", "note"}


def test_benchmark_json_lists_what_the_runner_reports():
    from workloads import BENCHMARK, WORKLOADS

    e2e = {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_metrics()
    assert [(w["name"], w["why"]) for w in SPEC["workloads"]] == [
        (n, WORKLOADS[n].why) for n in BENCHMARK
    ]


# -- span dump -------------------------------------------------------------


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, description):  # noqa: N802 (Spark's name)
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):  # noqa: N802
        self.props[key] = value


def test_span_dump_schema(tmp_path):
    sc = _FakeContext()
    tr = spans.Tracer(sc, "r1", enabled=True)
    with tr.span("bench.pass"):
        with tr.span("layer.a", stage="x"):
            assert sc.props["spark.jobGroup.id"] == "r1/1"
        assert sc.props["spark.jobGroup.id"] == "r1/0"
        with tr.span("layer.b", note="lazy"):
            pass
    assert sc.props["spark.jobGroup.id"] is None
    path = tmp_path / "dump.json"
    tr.dump(str(path), [], {"workload": "w"})
    doc = json.loads(path.read_text())
    assert set(doc) == {"run_id", "attribution", "spans", "jobs", "workload"}
    ids = {s["span_id"] for s in doc["spans"]}
    for s in doc["spans"]:
        assert set(s) == SPAN_FIELDS
        assert s["run_id"] == "r1"
        assert s["parent_id"] is None or s["parent_id"] in ids
        assert s["end"] >= s["start"]
    assert [s["parent_id"] for s in doc["spans"]] == [None, "r1/0", "r1/0"]
    assert doc["spans"][1]["attrs"] == {"stage": "x"}


def test_disabled_tracer_records_nothing():
    sc = _FakeContext()
    tr = spans.Tracer(sc, "r1", enabled=False)
    with tr.span("layer.a") as s:
        assert s is None
    assert tr.spans == [] and sc.props == {}


def test_layer_costs_are_self_costs_with_driver_gap():
    S = spans.Span
    root = S("r", "r/0", None, "bench.pass", 0.0, 10.0)
    child = S("r", "r/1", "r/0", "layer.a", 2.0, 6.0)
    jobs = [
        {"group": "r/1", "start": 2.5, "end": 4.0, "tasks": 4, "exec_cpu_s": 1.0, "shuffle_mb": 0.5},
        {"group": "r/1", "start": 3.5, "end": 5.0, "tasks": 2, "exec_cpu_s": 0.5, "shuffle_mb": 0.0},
        {"group": "r/0", "start": 7.0, "end": 8.0, "tasks": 1, "exec_cpu_s": 0.1, "shuffle_mb": 0.0},
    ]
    costs = spans.layer_costs([root, child], jobs)[0]
    a = costs["layer.a"]
    assert a["wall_s"] == 4.0 and a["jobs"] == 2 and a["tasks"] == 6
    assert a["driver_gap_s"] == pytest.approx(4.0 - 2.5)
    p = costs["bench.pass"]
    assert p["wall_s"] == 6.0 and p["jobs"] == 1
    assert p["driver_gap_s"] == pytest.approx(5.0)


# -- reference recomputation -----------------------------------------------


def _page(text, lang):
    return ("u", None, f"<p>{text}</p><p>row join key</p>".encode(), text, lang)


def test_expected_edges_leftmost_non_overlapping_and_lang_split():
    edges = check.expected_edges([
        _page("row join key merge value", "en"),
        _page("rows join key and key sort data", "de"),
    ])
    assert edges == {
        ("kg1:row", "join", "kg1:key", 1),
        ("kg2:key", "sort", "kg2:data", 2),
    }
    assert check.gold_links(edges) == {("kg1:key", "kg2:key")}


def test_union_find_canonical_is_component_minimum():
    triples = {("kg2:b", "p", "kg2:c"), ("kg1:z", "p", "kg2:b")}
    links = {("kg1:z", "kg2:b"), ("kg1:a", "kg2:b")}
    canon, srcs = check.canonical_graph(triples, links)
    assert canon == {("kg1:a", "p", "kg2:c"), ("kg1:a", "p", "kg1:a")}
    assert srcs == {"kg1:a": "kg1,kg2", "kg2:c": "kg2"}
    assert check.compare("t", canon, canon) is None
    assert "expected" in check.compare("t", set(), canon)


# -- the command ---------------------------------------------------------


def _run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["crawl_build", "stream_fold", "align_merge"])
def test_smoke_end_to_end(workload):
    _summary, res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_crawl_build():
    summary, res = _run("crawl_build", 1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["coverage_ratio"] >= 0.9
    assert m["pipeline.extract.jobs"] > 0 and m["streaming.kg_stream.ingest.jobs"] == 0
    assert m["training.trainer.fit.jobs"] == 0
    with open(os.path.join(ROOT, summary["trace_dump"])) as f:
        doc = json.load(f)
    ids = {s["span_id"] for s in doc["spans"]}
    assert all(j["group"] in ids for j in doc["jobs"])
    assert all(set(s) == SPAN_FIELDS for s in doc["spans"])
