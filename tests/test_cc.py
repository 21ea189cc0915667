"""Connected components vs networkx ground truth and planted minima on
all three paths: the driver NumPy hook-and-compress solver, the same
rounds on DataFrames (``driver_threshold=0``), and those rounds handing
their live edges off to the driver solver. Also the round bound of
both executors, the distributed path's bounded plan estimate, and the
known-edge-count hint that skips the sizing probe."""

import networkx as nx
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from perfbench.probe import StatusStore
from sparkdedup.cc import _hook_compress, connected_components


# driver: collect and solve at once; distributed: DataFrame rounds to
# the end; handoff: DataFrame rounds, then the driver solver once the
# live edges fit under a third of the input's
PATHS = ["distributed", "handoff", "driver"]


def _check(spark, edge_list, path):
    edges = spark.createDataFrame(edge_list, schema="src long, dst long")
    thr = {"distributed": 0, "handoff": max(1, len(edge_list) // 3), "driver": 2_000_000}[path]
    assign, stats = connected_components(edges, driver_threshold=thr)
    got = {row["id"]: row["component"] for row in assign.collect()}

    g = nx.Graph()
    g.add_edges_from(edge_list)
    want = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for node in comp:
            want[node] = m
    assert got == want
    assert stats.mode == ("driver" if path == "driver" else "distributed")
    if path != "driver":
        # the same rounds as the driver solver's, hand-off or not
        _, _, rounds = _hook_compress(*np.array(edge_list, dtype=np.int64).T)
        assert stats.iterations == rounds
        assert stats.live_edges[-1] <= thr
    return stats


@pytest.mark.parametrize("path", PATHS)
def test_cc_simple_star(spark, path):
    _check(spark, [(2, 1), (3, 1), (5, 4)], path)


@pytest.mark.parametrize("path", PATHS)
def test_cc_chain(spark, path):
    # a path in sorted id order: one hook round, log2(V) pointer jumps
    _check(spark, [(i + 1, i) for i in range(40)], path)


@pytest.mark.parametrize("path", PATHS)
def test_cc_random_order_path(spark, path):
    order = np.random.default_rng(3).permutation(200)
    _check(spark, [(int(a), int(b)) for a, b in zip(order[1:], order[:-1])], path)


@pytest.mark.parametrize("path", PATHS)
def test_cc_random_graph(spark, path):
    rng = np.random.RandomState(7)
    n = 300
    edge_list = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(400, 2)) if a != b]
    stats = _check(spark, edge_list, path)
    if path == "distributed":
        assert stats.iterations <= 2 * np.log2(n) + 2


@pytest.mark.parametrize("path", PATHS)
def test_cc_merging_clusters(spark, path):
    # two stars bridged by one edge
    _check(spark, [(2, 1), (3, 1), (12, 11), (13, 11), (11, 3)], path)


@pytest.mark.parametrize("path", PATHS)
def test_cc_signed_64bit_ids(spark, path):
    # xxhash64-derived __id__ values are negative half the time, and ids
    # above 2**53 lose precision in any float round trip
    big, neg = 2**53 + 1, -(2**63)
    _check(spark, [(big + 2, big), (big + 1, big + 2), (-5, neg), (2**63 - 1, -5), (7, -1), (8, 7)], path)


@pytest.mark.parametrize("path", PATHS)
def test_cc_duplicate_reversed_and_self_loop_edges(spark, path):
    # (9, 9) alone: a component of one vertex, labelled with itself
    _check(spark, [(2, 1), (2, 1), (1, 2), (3, 3), (3, 2), (9, 9), (6, 5), (5, 6), (5, 5)], path)


def test_cc_empty_edges_driver_path(spark):
    edges = spark.createDataFrame([], schema="src long, dst long")
    assign, stats = connected_components(edges)
    assert stats.mode == "driver" and stats.n_edges == 0
    assert assign.schema.simpleString() == "struct<id:bigint,component:bigint>"
    assert assign.count() == 0


def _planted(seed, n_comps, mega):
    """Edges over signed 64-bit ids with known components: 2-8-vertex
    stars at their minimum, paths in random vertex order, and one
    ``mega``-vertex component (a path with star leaves). Returns the
    shuffled edges and {id: component minimum}."""
    rng = np.random.default_rng(seed)
    sizes = np.append(rng.integers(2, 9, n_comps), mega)
    ids = np.unique(rng.integers(-(2**63), 2**63 - 1, int(sizes.sum()) * 2, dtype=np.int64))
    ids = rng.permutation(ids)[: sizes.sum()]
    src, dst, truth = [], [], {}
    for i, comp in enumerate(np.split(ids, np.cumsum(sizes)[:-1])):
        truth.update(dict.fromkeys(comp.tolist(), int(comp.min())))
        if i == n_comps:  # mega: a path over half, the rest leaves of its minimum
            path, leaves = np.split(comp, [len(comp) // 2])
            s = np.append(path[1:], leaves)
            d = np.append(path[:-1], np.full(len(leaves), path.min()))
        elif i % 3:  # star at the minimum
            s, d = comp[comp != comp.min()], np.full(len(comp) - 1, comp.min())
        else:  # path in random vertex order
            s, d = comp[1:], comp[:-1]
        src.append(s)
        dst.append(d)
    src, dst = np.concatenate(src), np.concatenate(dst)
    order = rng.permutation(len(src))
    return src[order], dst[order], truth


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_hook_compress_planted_minima_and_round_bound(seed):
    src, dst, truth = _planted(seed, 20_000, 20_000)
    ids, labels, rounds = _hook_compress(src, dst)
    assert dict(zip(ids.tolist(), labels.tolist())) == truth
    # the root count at least halves every two rounds
    assert rounds <= 2 * np.log2(len(ids)) + 2


def test_hook_compress_round_bound_adversarial():
    rng = np.random.default_rng(5)
    for n in (2, 3, 100, 4096, 50_000):
        order = rng.permutation(n)
        # a path and a random recursive tree, both in random id order
        shapes = [(order[1:], order[:-1]), (order[1:], order[rng.integers(0, np.arange(1, n))])]
        for a, b in shapes:
            ids, labels, rounds = _hook_compress(a.astype(np.int64), b.astype(np.int64))
            assert (labels == 0).all() and len(ids) == n
            assert rounds <= 2 * np.log2(n) + 2


@pytest.mark.parametrize("thr", [4_000_000, 0, 10_000], ids=["driver", "distributed", "handoff"])
def test_cc_planted_graph_labels_are_minima(spark, thr):
    src, dst, truth = _planted(3, 30_000, 30_000)
    edges = spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst}))
    assign, stats = connected_components(edges, driver_threshold=thr)
    if thr == 4_000_000:
        assert stats.mode == "driver" and stats.n_edges == len(src)
    else:
        assert stats.mode == "distributed" and stats.iterations == _hook_compress(src, dst)[2]
        assert (stats.live_edges[-1] > 0) == (thr > 0)
    assert _labels(assign) == truth


@pytest.fixture(scope="module")
def random_path_cc(spark):
    """A 1,000-vertex path in random id order through the DataFrame
    rounds to the end: (vertex count, assignment, stats)."""
    n = 1_000
    order = np.random.default_rng(17).permutation(n)
    edges = spark.createDataFrame(pd.DataFrame({"src": order[1:], "dst": order[:-1]}))
    assign, stats = connected_components(edges, driver_threshold=0)
    return n, assign, stats


def test_cc_random_order_path_rounds_are_logarithmic(random_path_cc):
    n, assign, stats = random_path_cc
    assert stats.mode == "distributed"
    assert set(_labels(assign).values()) == {0} and assign.count() == n
    # the root count at least halves every two hook rounds
    assert stats.iterations <= 2 * np.log2(n) + 2
    assert stats.live_edges[0] == n - 1 and stats.live_edges[-1] == 0


def test_cc_distributed_plan_estimate_stays_bounded(random_path_cc):
    # every round's frames drop the estimate they inherit; kept, its
    # sizeInBytes grows geometrically (tens of thousands of digits after
    # four rounds of a 100-vertex path) and planning stalls on it
    _, assign, _ = random_path_cc
    size = assign._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) <= 40


def test_cc_paths_agree(spark):
    rng = np.random.RandomState(11)
    edge_list = [(int(a), int(b)) for a, b in rng.randint(0, 500, size=(700, 2)) if a != b]
    edges = spark.createDataFrame(edge_list, schema="src long, dst long")
    a1, s1 = connected_components(edges, driver_threshold=0)
    a2, s2 = connected_components(edges, driver_threshold=10**6)
    # the probe overflows, two rounds run, and 22 live edges hand off
    a3, s3 = connected_components(edges, driver_threshold=100)
    assert s1.mode == s3.mode == "distributed" and s2.mode == "driver"
    assert 0 < s3.live_edges[-1] <= 100 < s3.live_edges[0]
    want = {tuple(r) for r in a2.collect()}
    assert {tuple(r) for r in a1.collect()} == want == {tuple(r) for r in a3.collect()}


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
