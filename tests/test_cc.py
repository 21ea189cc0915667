"""Connected components vs networkx ground truth — both the driver
union-find path and the distributed label-propagation path — and the
known-edge-count hint that skips the sizing probe."""

import networkx as nx
import numpy as np
import pytest
from pyspark.sql import functions as F

from perfbench.probe import StatusStore
from sparkdedup.cc import connected_components


def _check(spark, edge_list, driver_threshold):
    edges = spark.createDataFrame(edge_list, schema="src long, dst long")
    assign, stats = connected_components(edges, driver_threshold=driver_threshold)
    got = {row["id"]: row["component"] for row in assign.collect()}

    g = nx.Graph()
    g.add_edges_from(edge_list)
    want = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for node in comp:
            want[node] = m
    assert got == want
    assert stats.mode == ("driver" if driver_threshold else "distributed")
    return stats


@pytest.mark.parametrize("thr", [0, 2_000_000], ids=["distributed", "driver"])
def test_cc_simple_star(spark, thr):
    _check(spark, [(2, 1), (3, 1), (5, 4)], thr)


@pytest.mark.parametrize("thr", [0, 2_000_000], ids=["distributed", "driver"])
def test_cc_chain(spark, thr):
    # worst case for naive propagation: a long path
    _check(spark, [(i + 1, i) for i in range(40)], thr)


@pytest.mark.parametrize("thr", [0, 2_000_000], ids=["distributed", "driver"])
def test_cc_random_graph(spark, thr):
    rng = np.random.RandomState(7)
    n = 300
    edge_list = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(400, 2)) if a != b]
    stats = _check(spark, edge_list, thr)
    if thr == 0:
        # pointer jumping => O(log n) rounds even on adversarial shapes
        assert stats.iterations <= 12


@pytest.mark.parametrize("thr", [0, 2_000_000], ids=["distributed", "driver"])
def test_cc_merging_clusters(spark, thr):
    # two stars bridged by one edge
    _check(spark, [(2, 1), (3, 1), (12, 11), (13, 11), (11, 3)], thr)


def test_cc_paths_agree(spark):
    rng = np.random.RandomState(11)
    edge_list = [(int(a), int(b)) for a, b in rng.randint(0, 500, size=(700, 2)) if a != b]
    edges = spark.createDataFrame(edge_list, schema="src long, dst long")
    a1, s1 = connected_components(edges, driver_threshold=0)
    a2, s2 = connected_components(edges, driver_threshold=10**6)
    assert s1.mode == "distributed" and s2.mode == "driver"
    assert {tuple(r) for r in a1.collect()} == {tuple(r) for r in a2.collect()}


def _star_edges(spark, tmp_path, n):
    """6-leaf stars read back from parquet in several scan partitions (a
    range would let the optimizer drop the probe's limit)."""
    path = str(tmp_path / "edges")
    ids = spark.range(0, n, 1, numPartitions=6)
    ids.filter(F.col("id") % 7 != 0).select(
        F.col("id").alias("src"), (F.col("id") - F.col("id") % 7).alias("dst")
    ).write.parquet(path)
    edges = spark.read.parquet(path)
    assert edges.rdd.getNumPartitions() >= 3
    return edges


def _measured(spark, group, fn):
    store = StatusStore(spark)
    store.set_group(group)
    try:
        out = fn()
    finally:
        store.set_group("idle")
    return out, store.totals(group)


def _labels(assign):
    return {row["id"]: row["component"] for row in assign.collect()}


def test_cc_known_edge_count_collects_without_shuffle(spark, tmp_path):
    edges = _star_edges(spark, tmp_path, 700)
    n = edges.count()
    (a1, s1), hinted = _measured(spark, "cc_hinted", lambda: connected_components(edges, n_edges=n))
    (a2, s2), probed = _measured(spark, "cc_probed", lambda: connected_components(edges))
    assert s1.mode == s2.mode == "driver" and s1.n_edges == s2.n_edges == n
    # a plain collect: one job, no CollectLimit shuffle into one partition
    assert hinted.jobs == 1 and hinted.shuffle_mb == 0
    assert probed.shuffle_mb > 0
    assert _labels(a1) == _labels(a2)


def test_cc_known_large_edge_count_skips_probe(spark, tmp_path, monkeypatch):
    edges = _star_edges(spark, tmp_path, 140)
    n = edges.count()
    collects = []
    cls = type(edges)
    to_pandas = cls.toPandas
    monkeypatch.setattr(cls, "toPandas", lambda df: collects.append(1) or to_pandas(df))

    (a1, s1), hinted = _measured(
        spark, "cc_large_hinted",
        lambda: connected_components(edges, driver_threshold=10, n_edges=n),
    )
    assert s1.mode == "distributed" and not collects
    (a2, s2), probed = _measured(
        spark, "cc_large_probed", lambda: connected_components(edges, driver_threshold=10)
    )
    assert s2.mode == "distributed" and len(collects) == 1
    # the overflowing probe is the only extra job
    assert hinted.jobs < probed.jobs
    assert _labels(a1) == _labels(a2)
