"""Self-tests of the benchmark: generators, the process-tree and
status-store probes, the result contract and a toy-size smoke run of
every workload.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

from perfbench import inputs, probe
from perfbench.run import E2E_UNITS, ROOT, WORKLOAD_NAMES, e2e_metrics, layer_metrics, per_layer_units

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_code_input_is_deterministic_per_seed(tmp_path):
    a = inputs.prepare(str(tmp_path / "a"), "code", 300, 5)
    b = inputs.prepare(str(tmp_path / "b"), "code", 300, 5)
    c = inputs.prepare(str(tmp_path / "c"), "code", 300, 6)
    pd.testing.assert_frame_equal(a.table(), b.table())
    pd.testing.assert_frame_equal(a.truth(), b.truth())
    assert not a.table()["content"].equals(c.table()["content"])
    assert a.layout == {**a.layout, "files": 1, "rows": 300}
    # every planted exact-duplicate group is byte-identical content
    docs = a.table().merge(a.truth(), on="doc_id")
    groups = docs[docs["exact_group"] >= 0].groupby("exact_group")["content"]
    assert len(groups) > 0 and (groups.nunique() == 1).all() and (groups.size() >= 2).all()


def _union_find_labels(edges: pd.DataFrame) -> dict:
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["src"].tolist(), edges["dst"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_graph_generator_is_deterministic_per_seed():
    e1, t1 = inputs.generate_graph(20_000, 3)
    e2, t2 = inputs.generate_graph(20_000, 3)
    e3, _ = inputs.generate_graph(20_000, 4)
    pd.testing.assert_frame_equal(e1, e2)
    pd.testing.assert_frame_equal(t1, t2)
    assert not e1["src"].equals(e3["src"])
    assert len(e1) == 20_000


def test_graph_planted_labels_are_component_minima():
    edges, truth = inputs.generate_graph(20_000, 7)
    expected = _union_find_labels(edges)
    assert sorted(expected) == truth["id"].tolist()
    assert [expected[v] for v in truth["id"].tolist()] == truth["label"].tolist()
    sizes = truth.groupby("label").size()
    assert 0.03 <= sizes.max() / len(truth) <= 0.10  # the mega-component
    ids = truth["id"].to_numpy()
    assert ids.max() - ids.min() > 100 * len(ids)  # sparse, non-contiguous
    # some components are paths: a vertex with two neighbours, neither
    # of them the component minimum
    deg = pd.concat([edges["src"], edges["dst"]]).value_counts()
    labels = truth.set_index("id")["label"]
    assert ((deg == 2) & (deg.index.to_series().map(labels) != deg.index.to_series())).any()


def test_tree_cpu_counts_this_process():
    before = probe.tree_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert probe.tree_cpu_s() - before >= 0.2
    assert os.getpid() in probe.tree_pids()
    assert probe.tree_pss_mb() > 0


def test_benchmark_json_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == WORKLOAD_NAMES
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == E2E_UNITS
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == per_layer_units()
    for m in BENCH["end_to_end"] + BENCH["per_layer"] + BENCH["workloads"]:
        assert NAME.match(m["name"]), m
        assert "unit" not in m or UNIT.match(m["unit"]), m
        assert m.get("better", "lower") in ("lower", "higher")


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", "__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cc_graph", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout == ""


@pytest.fixture(scope="module")
def bench_env():
    from perfbench.run import _prepare_env

    _prepare_env()


def test_status_store_spans_with_ui_disabled(bench_env):
    from perfbench.run import start_spark, stop_spark

    spark = start_spark()
    try:
        assert spark.conf.get("spark.ui.enabled") == "false"
        with probe.PssSampler() as sampler:
            p = probe.Probe(spark, sampler)
            with p.measure("tiny") as m:
                spark.range(20_000).repartition(4).selectExpr("sum(id)").collect()
        assert m.spark.jobs > 0 and m.spark.tasks > 0
        assert m.spark.task_s >= 0 and m.spark.shuffle_mb > 0 and m.wall_s > 0
        assert m.peak_pss_mb > 0 and m.spark.skew >= 1
    finally:
        stop_spark(spark)
    assert probe.tree_pids() == [os.getpid()]


TOY_SIZES = {"minhash_code": 600, "cc_graph": 5_000}


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_toy_smoke_run(bench_env, workload):
    from perfbench.run import run_benchmark

    rec = run_benchmark(workload, seed=1, seconds=0, trace=True, size=TOY_SIZES[workload])
    assert rec["failed"] == 0, rec["failures"]
    from perfbench.workloads import WORKLOADS

    assert rec["attempted"] == WORKLOADS[workload].warmup_runs + 2 and len(rec["runs"]) == 1
    assert probe.tree_pids() == [os.getpid()]
    e2e = e2e_metrics(rec)
    assert all(v["value"] > 0 for v in e2e.values()), e2e
    layers = layer_metrics(rec)
    assert set(layers) == set(per_layer_units())
    assert layers["cc.wall_s"]["value"] > 0 and layers["cc.jobs"]["value"] > 0
    assert layers["trace.span_total_s"]["value"] > 0
    assert all(layers[k]["value"] > 0 for k in layers if k.startswith("kernel."))
    assert np.isfinite([v["value"] for v in layers.values()]).all()
