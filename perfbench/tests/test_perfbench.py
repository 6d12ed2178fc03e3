"""The benchmark's own tests: input determinism, the tail-percentile rule,
metric names against BENCHMARK.json, and failure counting.

Run with ``python3 -m pytest perfbench/tests -q`` (no Spark session is
started; DuckDB does the checking).
"""

from __future__ import annotations

import json
import os

import pytest

import inputs
import layers
import metrics
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = {
    "mr_reference": {"docs": 60, "orders": 300, "suppliers": 20, "events": 500},
    "query_mix": {"customers": 50, "suppliers": 10, "parts": 40, "orders": 200,
                  "events": 300, "users": 20, "docs": 60},
    "sdfs_ingest": {"rounds": 2, "batch_rows": 500},
}


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setattr(inputs, "SIZES", SMALL)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_gives_identical_bytes(tmp_path, small_sizes, workload):
    a = inputs.generate(str(tmp_path / "a"), workload, 7)
    b = inputs.generate(str(tmp_path / "b"), workload, 7)
    c = inputs.generate(str(tmp_path / "c"), workload, 8)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    fa, fc = _files(str(tmp_path / "a")), _files(str(tmp_path / "c"))
    assert fa.keys() == fc.keys()
    assert any(fa[k] != fc[k] for k in fa if k != inputs.MANIFEST)
    assert a["logical_mb"] > 0 and all(t["rows"] > 0 for t in a["tables"].values())


def test_cached_inputs_are_reused(tmp_path, small_sizes):
    d1, m1 = inputs.ensure_inputs(str(tmp_path), "sdfs_ingest", 3)
    stamp = os.path.getmtime(os.path.join(d1, "batch_0.parquet"))
    d2, m2 = inputs.ensure_inputs(str(tmp_path), "sdfs_ingest", 3)
    assert (d1, m1) == (d2, m2)
    assert os.path.getmtime(os.path.join(d2, "batch_0.parquet")) == stamp


@pytest.mark.parametrize("n,expected", [
    (0, None), (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_has_ten_beyond(n, expected):
    p = metrics.tail_percentile(n)
    assert p == expected
    if p is not None:
        assert metrics.beyond(n, p) >= 10


def test_job_tail_small_sample_falls_back_to_median():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    value, pct, n_beyond = metrics.job_tail(vals)
    assert (value, pct) == (3.0, 50.0)
    assert n_beyond == 2  # fewer than ten: the tail is not resolved at this size


def test_job_tail_picks_the_value_with_ten_beyond():
    vals = [float(i) for i in range(1, 101)]  # 100 samples → p90
    value, pct, n_beyond = metrics.job_tail(vals)
    assert (value, pct, n_beyond) == (90.0, 90.0, 10)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] \
        == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == list(layers.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert bench["command"][1] == "perfbench/run.py"
    assert "setup_s" in {m["name"] for m in bench["end_to_end"]}


def test_failed_job_ratio_counts_a_planted_wrong_output(tmp_path, small_sizes):
    sf_dir, manifest = inputs.ensure_inputs(str(tmp_path), "mr_reference", 1)
    wl = workloads.MrReference.__new__(workloads.MrReference)
    wl.sf_dir, wl.manifest, wl.parity = sf_dir, manifest, run.load_parity()
    from grapefruit_spark.operators import mapreduce_apps

    wl.oracles = mapreduce_apps.ORACLE
    con = wl.duck()
    rel = con.sql(wl.oracles["webgraph_inlinks"])
    good_rows, cols = [tuple(r) for r in rel.fetchall()], list(rel.columns)
    assert good_rows
    planted = list(good_rows)
    planted[0] = (planted[0][0], planted[0][1] + 1)
    results = [
        workloads.JobResult("webgraph_inlinks", 0, 0.1, 1.0, good_rows, cols),
        workloads.JobResult("webgraph_inlinks", 0, 0.1, 1.0, planted, cols),
        workloads.JobResult("webgraph_inlinks", 1, 0.1, 1.0, error="RuntimeError: boom"),
        workloads.JobResult("webgraph_inlinks", 1, 0.1, 1.0, list(reversed(good_rows)), cols),
    ]
    wl.check(results)
    assert [r.ok for r in results] == [True, False, False, True]
    assert metrics.failed_job_ratio(results) == 0.5
