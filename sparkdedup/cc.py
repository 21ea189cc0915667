"""Connected components: one hook-and-compress algorithm, run by a
NumPy solver on the driver or as DataFrame rounds above
``driver_threshold`` edges.

Replaces the reference's GraphFrames call (minhash_spark.py:501-503)
and UnionFind (utils/union_find.py:9-98). Each round drops the edges
inside one tree, hooks every root under its smallest neighbouring root
and pointer-jumps the hooks to a fixpoint. A root outlives a round
only as a local minimum of the contracted graph, so the root count at
least halves every two rounds: ≤ ~2·log2(V) rounds, whatever the
shape of the graph. The driver solver (``_hook_compress``) runs them
over NumPy edge arrays; the distributed path runs them as joins and
hands off to the driver solver once the live edges fit under
``driver_threshold``. Each frame a round keeps goes through ``_cut``,
which drops its lineage and its size estimate: left in place, the
estimate grows geometrically and stalls the optimizer within a few
rounds. Both paths match GraphFrames' contract: one row per vertex
that appears in the edge list, ``component`` = minimum vertex id of
its component.

The module also holds the lazy ``*_dedup`` tail (``cluster_keep``) and
``RunMetrics``, the one metrics record lazy and staged runs both return.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPONENT = "__component__"


@dataclass
class CCStats:
    iterations: int = 0  # distributed path: hook rounds, hand-off included
    mode: str = "distributed"
    # exact edge count when the driver path collected the full list;
    # None on the distributed path (never counted there). Lets callers
    # detect the empty-graph case without paying an extra isEmpty job.
    n_edges: "int | None" = None
    # distributed path: live edges counted before each round; the last
    # count ended the loop (0, or the edges handed to the driver)
    live_edges: List[int] = field(default_factory=list)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    driver_threshold: int = 4_000_000,
    n_edges: Optional[int] = None,
) -> Tuple[DataFrame, CCStats]:
    """Compute connected components of an undirected edge list.

    LSH candidate graphs are usually a small fraction of the corpus
    (edges ≈ duplicates, not documents), so below ``driver_threshold``
    edges are collected once and solved on the driver by
    ``_hook_compress`` — where the reference's non-Spark paths run
    their UnionFind (minhash.py:401-412) — and the result is shipped
    back Arrow-batched. Above the threshold the same ≤ ~2·log2(V)
    rounds run on DataFrames over the live edges (``u < v``, no
    duplicates), counted before each round into ``CCStats.live_edges``;
    once they fit under the threshold the driver solver finishes.

    A caller that already knows the edge count passes it as
    ``n_edges`` and skips the sizing probe: at or below the threshold
    the edges are collected with a plain ``toPandas()`` (one job, no
    shuffle); above it the distributed path starts at once. Without
    the hint (every lazy ``*_dedup``), the sizing probe and the
    driver-path edge collection are ONE job: ``limit(threshold+1)
    .toPandas()`` both answers "does the edge list fit?" and, when it
    does, already holds the whole list. That job is not shuffle-free:
    the limit plans a ``CollectLimit``, which shuffles the entire edge
    list into one partition whenever the edge frame has more than one
    partition (200k edges in 3 scan partitions, 4 vCPUs at
    ``local[3]``: 1.82 MB shuffled, against 0 MB for a plain
    ``toPandas()``). A single-partition edge frame pays nothing.

    Parameters
    ----------
    edges : DataFrame[src: long, dst: long]
        Undirected edges (each pair listed once in either direction).
    n_edges : int, optional
        Exact row count of ``edges`` when the caller already holds it.

    Returns
    -------
    (DataFrame[id: long, component: long], CCStats)
    """
    stats = CCStats()

    # the probe (skipped when the caller passes n_edges) runs over the
    # UNPERSISTED lineage on purpose: persisting first costs the common
    # driver path an extra cache-materialization job (+~0.3 s/query
    # measured at bench scale). The price is that an OVERFLOWING probe
    # (> threshold edges, < 1/2000 of corpora at the observed ~0.45
    # edges/doc density needs > ~9M docs in one UNSTAGED call — the
    # staged jobs pass their staged edge count and never probe)
    # recomputes the edge lineage once for the
    # distributed path below. The 4M threshold (64 MB collected) keeps
    # every measured corpus on the single-pass driver side, where the
    # NumPy solver takes ~0.4 s at 1M planted edges and ~3 s at 4M.
    try_driver = driver_threshold > 0 if n_edges is None else n_edges <= driver_threshold
    if try_driver:
        pairs = edges.select(src, dst)
        if n_edges is None:
            pairs = pairs.limit(driver_threshold + 1)
        pdf = pairs.toPandas()
        if len(pdf) <= driver_threshold:
            stats.mode, stats.n_edges = "driver", len(pdf)
            ids, labels, _ = _hook_compress(pdf[src].to_numpy(np.int64), pdf[dst].to_numpy(np.int64))
            # an Arrow table ships without pandas' per-column conversion
            out = pa.table({"id": ids, "component": labels})
            return edges.sparkSession.createDataFrame(out), stats

    # distributed path: one read of the input; self-loops stay in
    # `ends` so that their vertices keep a row
    ends = _cut(edges.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")).distinct())
    live = ends.filter(F.col("u") != F.col("v"))
    roots = None  # (id, root) of every vertex hooked so far
    while True:
        stats.live_edges.append(live.count())
        if stats.live_edges[-1] <= driver_threshold:
            break
        stats.iterations += 1
        hooks = _jump(_cut(live.groupBy(F.col("v").alias("id")).agg(F.min("u").alias("root"))))
        u, v = F.coalesce("ru", "u"), F.coalesce("rv", "v")
        live = _cut(
            live.join(hooks.toDF("u", "ru"), "u", "left")
            .join(hooks.toDF("v", "rv"), "v", "left")
            .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        roots = _compose(roots, hooks)
    if stats.live_edges[-1]:
        # hand-off: the count above is the collect's size, no probe
        t = live.toArrow()
        ids, labels, rounds = _hook_compress(t["u"].to_numpy(), t["v"].to_numpy())
        stats.iterations += rounds
        hooked = ids != labels
        hooks = edges.sparkSession.createDataFrame(pa.table({"id": ids[hooked], "root": labels[hooked]}))
        roots = _compose(roots, hooks)

    verts = ends.select(F.col("u").alias("id")).union(ends.select(F.col("v").alias("id"))).distinct()
    if roots is None:
        return verts.select("id", F.col("id").alias("component")), stats
    return verts.join(roots, "id", "left").select("id", F.coalesce("root", "id").alias("component")), stats


def _cut(df: DataFrame) -> DataFrame:
    """``df`` materialized as a plan leaf with neither lineage nor an
    inherited size estimate.

    ``localCheckpoint`` cuts the lineage, but its ``LogicalRDD`` keeps
    the estimate of the plan it came from (``LogicalRDD.fromDataset``),
    and ``SizeInBytesOnlyStatsPlanVisitor`` multiplies the sizes of a
    join's children: the ``sizeInBytes`` BigInt grows geometrically
    round by round, until rules such as ``InjectRuntimeFilter`` stall
    in BigInteger multiplication. The JVM-side
    ``internalCreateDataFrame`` over the checkpoint's rows rebuilds the
    leaf without origin statistics (``spark.sql.defaultSizeInBytes``)."""
    ck, spark = df.localCheckpoint(eager=True)._jdf, df.sparkSession
    jdf = spark._jsparkSession.internalCreateDataFrame(ck.queryExecution().toRdd(), ck.schema(), False)
    return DataFrame(jdf, spark)


def _jump(hooks: DataFrame) -> DataFrame:
    """Pointer-jump (id, root) hooks until no root is itself hooked;
    the last jump only confirms the fixpoint."""
    while True:
        up = hooks.join(hooks.toDF("root", "up"), "root", "left")
        root = F.coalesce("up", "root").alias("root")
        jumped = _cut(up.select("id", root, F.col("up").isNotNull().alias("moved")))
        hooks = jumped.drop("moved")
        if jumped.filter("moved").isEmpty():
            return hooks


def _compose(roots: Optional[DataFrame], hooks: DataFrame) -> DataFrame:
    """The vertex -> root map after this round's ``hooks`` (roots of
    the last round -> roots of this one)."""
    if roots is None:
        return hooks
    moved = roots.join(hooks.toDF("root", "up"), "root", "left")
    return _cut(moved.select("id", F.coalesce("up", "root").alias("root")).unionByName(hooks))


def _hook_compress(a: np.ndarray, b: np.ndarray):
    """(sorted vertex ids, their component minima, rounds) of the edges
    ``a[i] — b[i]``. Ids compact to indices in id order and hooks only
    point to smaller indices, so each root is its component's minimum."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    parent = np.arange(len(ids))
    rounds = 0
    while True:
        u, v = parent[u], parent[v]
        live = u != v
        u, v = u[live], v[live]
        if not len(u):
            return ids, ids[parent], rounds
        rounds += 1
        np.minimum.at(parent, np.maximum(u, v), np.minimum(u, v))
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped


def keep_representatives(docs: DataFrame, assignment: DataFrame, id_col: str) -> DataFrame:
    """Rows of ``docs`` outside every component, plus each component's
    minimum-id row (the reference's ``index == cluster`` filter,
    minhash_spark.py:524-528)."""
    return (
        docs.join(
            assignment.withColumnRenamed("id", id_col).withColumnRenamed("component", COMPONENT),
            on=id_col,
            how="left",
        )
        .filter(F.col(COMPONENT).isNull() | (F.col(COMPONENT) == F.col(id_col)))
        .drop(COMPONENT)
    )


def cluster_keep(
    docs: DataFrame, edges: DataFrame, id_col: str, m: RunMetrics, cached: Sequence[DataFrame] = ()
) -> DedupResult:
    """The near-dup tail every ``*_dedup`` shares: candidate edges ->
    connected components -> keep each component's representative.

    The edges stay lazy: the driver CC path consumes their lineage in
    one collect job and reports the edge count itself, so the
    empty-graph exit costs no extra probe. On an empty graph ``docs``
    is kept as is and the assignment is an empty lineage-free frame
    (early exit of minhash_spark.py:472-483). CC's mode, iterations and
    known edge count go to ``m.facts``; ``cached`` are the caller's
    persisted frames, for ``DedupResult.release``."""
    assignment, stats = connected_components(edges)
    m.record_cc(stats)
    if stats.n_edges == 0:
        empty = docs.sparkSession.createDataFrame([], "id long, component long")
        return DedupResult(docs, empty, m, list(cached))
    return DedupResult(keep_representatives(docs, assignment, id_col), assignment, m, list(cached))


@dataclass
class StageInfo:
    seconds: float = 0.0
    rows: int = -1
    resumed: bool = False


@dataclass
class RunMetrics:
    """One run's metrics record. A staged ``*_job`` fills every field;
    a lazy ``*_dedup`` materializes no stage and counts nothing, so its
    ``stages`` stay empty and its row counts stay -1 ("not counted").
    ``facts`` holds what a run learns without an extra job: CC's mode,
    iterations, edge count when known and the distributed path's
    per-round live edges (``cc_*``), the ANN loop's
    ``rounds``/``k_final``/``n_distinct``/``contractions`` and the
    substring ``splice_path``."""

    mode: str = "minhash"
    stages: Dict[str, StageInfo] = field(default_factory=dict)
    partition_rows: Dict[str, int] = field(default_factory=dict)
    rows_before: int = -1
    rows_after: int = -1
    facts: Dict[str, Any] = field(default_factory=dict)

    def record_cc(self, stats: CCStats) -> None:
        self.facts.update(cc_mode=stats.mode, cc_iterations=stats.iterations)
        if stats.live_edges:
            self.facts["cc_live_edges"] = stats.live_edges
        if stats.n_edges is not None:
            self.facts["cc_edges"] = stats.n_edges


@dataclass
class DedupResult:
    """Output of a lazy ``*_dedup``."""

    kept: DataFrame  # surviving rows (input schema)
    # (id, component) for every edge-touched row; None for substring
    assignment: Optional[DataFrame]
    metrics: RunMetrics
    cached: List[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Unpersist pipeline-cached DataFrames. Call once the outputs
        are written/consumed; materializing them afterwards recomputes."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()
