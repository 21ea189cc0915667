"""Connected components via checkpointed DataFrame label propagation.

Replaces the reference's GraphFrames call
(/root/reference/text_dedup/minhash_spark.py:501-503) and driver-side
UnionFind (/root/reference/text_dedup/utils/union_find.py:9-98) with an
iterative min-label propagation over hash joins, with pointer jumping
(label <- label-of-label each round) for O(log n) convergence — the
MapReduce CC family of Kiveris et al., "Connected Components in
MapReduce and Beyond" (public algorithm).

Every round is ``localCheckpoint``-ed (eager) to cut lineage; this is
also the resume point the scale design requires — a failed round
restarts from materialized blocks, not from the raw corpus. Labels only
ever decrease, so ``sum(label)`` is a monotone convergence metric and
equality between rounds is an exact fixpoint test (no extra join to
diff assignments).

Output matches GraphFrames' contract: one row per vertex that appears
in the edge list, ``component`` = minimum vertex id of its component.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, List, Optional, Tuple

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
    ``driver_threshold`` edges the components are solved with a
    driver-side union-find in one pass — exactly what the reference's
    non-Spark paths do at full corpus scale (minhash.py:401-412) — and
    the result is shipped back Arrow-batched. Above the threshold, the
    checkpointed distributed label propagation runs. Both produce the
    identical min-id labeling.

    A caller that already knows the edge count passes it as
    ``n_edges`` and skips the sizing probe: at or below the threshold
    the edges are collected with a plain ``toPandas()`` (one job, no
    shuffle); above it the distributed path starts at once. Without
    the hint (the lazy ``*_dedup`` fast path), the sizing probe and the
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
    # dict union-find took 6.8 s at 1M edges and 32.3 s at 4M (ROADMAP #3).
    try_driver = driver_threshold > 0 if n_edges is None else n_edges <= driver_threshold
    if try_driver:
        pairs = edges.select(src, dst)
        if n_edges is None:
            pairs = pairs.limit(driver_threshold + 1)
        pdf = pairs.toPandas()
        if len(pdf) <= driver_threshold:
            stats.n_edges = len(pdf)
            return _driver_cc_pdf(pdf, src, dst, stats, edges.sparkSession)

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
    # graphs — the common LSH case) converge after ONE confirm round
    stats.label_sums.append(int(assign.agg(F.sum("comp")).collect()[0][0] or 0))

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
        total = new_assign.agg(F.sum("comp")).collect()[0][0] or 0
        prev = stats.label_sums[-1] if stats.label_sums else None
        stats.label_sums.append(int(total))
        assign = new_assign
        if prev is not None and prev == total:
            break

    return assign.select("id", F.col("comp").alias("component")), stats


def _driver_cc_pdf(pdf, src: str, dst: str, stats: CCStats, spark):
    """Union-find over an already-collected pandas edge list."""
    import pandas as pd

    stats.mode = "driver"
    parent: dict = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf[src].to_numpy(), pdf[dst].to_numpy()):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            # union to the smaller root -> labels are component minima
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    ids = sorted(set(pdf[src].tolist()) | set(pdf[dst].tolist()))
    out = pd.DataFrame({"id": ids, "component": [find(i) for i in ids]})
    return spark.createDataFrame(out, schema="id long, component long"), stats


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
    docs: DataFrame, edges: DataFrame, id_col: str, collect_metrics: bool
) -> Tuple[DataFrame, DataFrame, CCStats]:
    """The near-dup tail every ``*_dedup`` shares: candidate edges ->
    connected components -> keep each component's representative.

    collect_metrics=True persists the edges so their count
    (``CCStats.n_edges``) and the CC pass share one materialization,
    and hands that count to CC, which then skips its sizing probe.
    Otherwise the edges stay lazy: the driver CC path consumes the
    lineage in one collect job and reports ``n_edges`` itself, so the
    empty-graph exit costs no extra probe. On an empty graph CC is
    skipped (count known) or its result ignored, ``docs`` is returned
    as is, and the assignment is an empty lineage-free frame (early
    exit of minhash_spark.py:472-483).

    Returns (kept rows, DataFrame[id, component], CCStats)."""
    n_edges = None
    if collect_metrics:
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        n_edges = edges.count()
    try:
        if n_edges == 0:
            stats = CCStats(mode="empty", n_edges=0)
        else:
            assignment, stats = connected_components(edges, n_edges=n_edges)
            if n_edges is not None:
                stats.n_edges = n_edges
        if stats.n_edges == 0:
            empty = docs.sparkSession.createDataFrame([], "id long, component long")
            return docs, empty, stats
        return keep_representatives(docs, assignment, id_col), assignment, stats
    finally:
        if collect_metrics:
            edges.unpersist()


@dataclass
class DedupResult:
    """Output of a near-dup ``*_dedup``."""

    kept: DataFrame  # surviving rows (input schema)
    assignment: DataFrame  # (id, component) for every edge-touched row
    metrics: Any  # the mode's *Metrics dataclass
    cached: List[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Unpersist pipeline-cached DataFrames. Call once the outputs
        are written/consumed; materializing them afterwards recomputes."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()
