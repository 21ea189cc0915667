"""Connected components: a NumPy solver on the driver, checkpointed
DataFrame label propagation above ``driver_threshold`` edges.

Replaces the reference's GraphFrames call (minhash_spark.py:501-503)
and UnionFind (utils/union_find.py:9-98). The driver solver
(``_hook_compress``) hooks every root under its smallest neighbouring
root over whole edge arrays, then pointer-jumps to a fixpoint. A root
outlives a round only as a local minimum of the contracted graph, so
the root count at least halves every two rounds: ≤ ~2·log2(V) rounds.

The distributed path is min-label propagation over hash joins with
pointer jumping (label <- label-of-label), after Kiveris et al.,
"Connected Components in MapReduce and Beyond": one or two rounds on
LSH star graphs, but its rounds grow with the length of a path in
random id order. Every round is ``localCheckpoint``-ed (eager) to cut
lineage, so a failed round restarts from materialized blocks. Labels
only decrease, so equal ``sum(label)`` between rounds is an exact
fixpoint test; a run that reaches ``max_iterations`` rounds without it
raises rather than return unconverged labels.

Both paths match GraphFrames' contract: one row per vertex that appears
in the edge list, ``component`` = minimum vertex id of its component.

The module also holds the lazy ``*_dedup`` tail (``cluster_keep``) and
``RunMetrics``, the one metrics record lazy and staged runs both return.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPONENT = "__component__"


@dataclass
class CCStats:
    iterations: int = 0
    label_sums: List[int] = field(default_factory=list)
    mode: str = "distributed"
    # exact edge count when the driver path collected the full list;
    # None on the distributed path (never counted there). Lets callers
    # detect the empty-graph case without paying an extra isEmpty job.
    n_edges: "int | None" = None


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    src: str = "src",
    dst: str = "dst",
    driver_threshold: int = 4_000_000,
    n_edges: Optional[int] = None,
) -> Tuple[DataFrame, CCStats]:
    """Compute connected components of an undirected edge list.

    Hybrid strategy: LSH candidate graphs are usually a small fraction
    of the corpus (edges ≈ duplicates, not documents), so below
    ``driver_threshold`` edges are collected once and solved on the
    driver by the NumPy hook-and-compress solver (``_hook_compress``,
    ≤ ~2·log2(V) array rounds) — where the reference's non-Spark paths
    run their UnionFind (minhash.py:401-412) — and the result is
    shipped back Arrow-batched. Above the threshold, the
    checkpointed distributed label propagation runs. Both produce the
    identical min-id labeling; the distributed path raises
    ``RuntimeError`` if it finds no fixpoint within ``max_iterations``
    rounds (its rounds grow with the length of a path in random id
    order).

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

    # distributed path: the symmetrized union reads the edge lineage
    # again — persist unless the caller already did
    lvl = edges.storageLevel
    we_persisted = False
    if not (lvl.useMemory or lvl.useDisk):
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        we_persisted = True

    try:
        sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        sym = sym.localCheckpoint(eager=True)
    finally:
        if we_persisted:
            # sym is localCheckpointed, so the input cache is no longer
            # needed
            edges.unpersist()

    # label(x) = min(x, min neighbor) — LSH star edges already point at
    # group minima, so this seed is typically 1 hop from the fixpoint.
    assign = (
        sym.groupBy("a")
        .agg(F.min("b").alias("nbr_min"))
        .select(F.col("a").alias("id"), F.least("a", "nbr_min").alias("comp"))
        .localCheckpoint(eager=True)
    )
    # seed sum: lets a seed that is already the fixpoint (pure star
    # graphs — the common LSH case) converge after ONE confirm round.
    # Decimal: a long sum of xxhash64 ids overflows (ANSI mode raises).
    label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    stats.label_sums.append(int(assign.agg(label_sum).collect()[0][0] or 0))

    for _ in range(max_iterations):
        stats.iterations += 1
        # candidate labels: own, neighbors' labels, and label-of-label
        # (pointer jumping). groupBy-min has map-side partial
        # aggregation, so mega-components never serialize into one task.
        nbr = (
            sym.join(assign.withColumnRenamed("id", "b"), on="b")
            .select(F.col("a").alias("id"), "comp")
        )
        jump = (
            assign.alias("x")
            .join(
                assign.select(F.col("id").alias("comp"), F.col("comp").alias("jcomp")).alias("y"),
                on="comp",
            )
            .select(F.col("id"), F.col("jcomp").alias("comp"))
        )
        new_assign = (
            assign.unionByName(nbr).unionByName(jump)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        total = int(new_assign.agg(label_sum).collect()[0][0] or 0)
        prev = stats.label_sums[-1] if stats.label_sums else None
        stats.label_sums.append(total)
        assign = new_assign
        if prev is not None and prev == total:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iterations} label-propagation "
            f"rounds (label sums {stats.label_sums[-3:]}); raise max_iterations"
        )

    return assign.select("id", F.col("comp").alias("component")), stats


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
    iterations and edge count when known (``cc_*``), the ANN loop's
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
