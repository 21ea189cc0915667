"""Seeded benchmark inputs, generated once per (workload, size, seed).

Inputs are written under ``perfbench/.work/inputs`` next to a
``layout.json`` describing the files, row groups, rows and bytes, so a
timed run never pays for generation. Generation writes to a temporary
directory and renames it into place, so an interrupted run leaves no
half-written input behind.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Dict, List

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sparkdedup.fixtures import generate_code_files

DOC_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def generate_graph(n_edges: int, seed: int):
    """Candidate graph with planted connected components.

    Component sizes are heavy-tailed (2 + Pareto), and one
    mega-component holds about 5% of the vertices. Four of five
    components are LSH-style stars whose edges point at the component
    minimum; the rest are paths in random vertex order, which need
    several label-propagation rounds. Vertex ids are distinct random
    non-negative 40-bit integers, so they are sparse and
    non-contiguous.

    Returns ``(edges, labels)``: edges ``(src, dst)`` in random order and
    one row ``(id, label)`` per vertex, where ``label`` is the minimum
    id of the vertex's component. Every component is connected by
    construction, so the labels are the exact answer.
    """
    rng = np.random.default_rng(seed)
    budget = int(n_edges * 0.93)
    sizes = []
    total = 0
    while total < budget:
        k = int(min(2 + rng.pareto(1.2) * 2, 5000))
        k = min(k, budget - total + 1)
        sizes.append(k)
        total += k - 1
    sizes.append(n_edges - total + 1)  # the mega-component
    sizes = np.asarray(sizes, dtype=np.int64)
    n_vertices = int(sizes.sum())

    ids = np.unique(rng.integers(0, 1 << 40, size=n_vertices + n_vertices // 8 + 16))
    ids = rng.permutation(ids)[:n_vertices]
    if len(ids) < n_vertices:
        raise RuntimeError("not enough distinct vertex ids drawn")
    comp = np.repeat(np.arange(len(sizes)), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    mins = np.minimum.reduceat(ids, starts)
    labels = mins[comp]
    is_path = rng.random(len(sizes)) < 0.2
    is_path[-1] = False

    star_v = ~is_path[comp] & (ids != labels)
    star_src, star_dst = ids[star_v], labels[star_v]
    same_next = comp[:-1] == comp[1:]
    path_e = same_next & is_path[comp[:-1]]
    path_src, path_dst = ids[:-1][path_e], ids[1:][path_e]

    src = np.concatenate([star_src, path_src])
    dst = np.concatenate([star_dst, path_dst])
    order = rng.permutation(len(src))
    edges = pd.DataFrame({"src": src[order], "dst": dst[order]})
    truth = pd.DataFrame({"id": ids, "label": labels}).sort_values("id", ignore_index=True)
    return edges, truth


def exact_groups(docs: pd.DataFrame, truth: pd.Series) -> pd.Series:
    """Planted exact-duplicate group per doc (-1 for none): planted
    clusters whose members are byte-identical."""
    planted = docs.assign(cluster=truth.to_numpy())
    planted = planted[planted["cluster"] >= 0]
    nunique = planted.groupby("cluster")["content"].nunique()
    exact = set(nunique[nunique == 1].index)
    return pd.Series(
        np.where(np.isin(truth.to_numpy(), list(exact)), truth.to_numpy(), -1),
        index=docs.index,
    )


def _write_code(d: str, size: int, seed: int) -> None:
    docs, truth = generate_code_files(size, seed, with_truth=True)
    # one file, as sparkdedup.fixtures.write_code_files produces
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), os.path.join(d, "input.parquet"))
    pd.DataFrame({"doc_id": docs["doc_id"], "exact_group": exact_groups(docs, truth)}).to_parquet(
        os.path.join(d, "truth.parquet"), index=False
    )


def _write_graph(d: str, size: int, seed: int) -> None:
    edges, truth = generate_graph(size, seed)
    pq.write_table(
        pa.Table.from_pandas(edges, preserve_index=False),
        os.path.join(d, "input.parquet"),
        row_group_size=1 << 16,
    )
    truth.to_parquet(os.path.join(d, "truth.parquet"), index=False)


WRITERS: Dict[str, Callable[[str, int, int], None]] = {"code": _write_code, "graph": _write_graph}


@dataclass
class Input:
    dir: str
    path: str  # the table the program reads
    layout: Dict

    def truth(self) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.dir, "truth.parquet"))

    def table(self) -> pd.DataFrame:
        return pd.read_parquet(self.path)


def layout(path: str) -> Dict:
    files: List[Dict] = []
    names = [path] if os.path.isfile(path) else [
        os.path.join(path, n) for n in sorted(os.listdir(path)) if n.endswith(".parquet")
    ]
    for name in names:
        md = pq.ParquetFile(name).metadata
        files.append({"row_groups": md.num_row_groups, "rows": md.num_rows, "bytes": os.path.getsize(name)})
    return {
        "files": len(files),
        "row_groups": sum(f["row_groups"] for f in files),
        "rows": sum(f["rows"] for f in files),
        "bytes": sum(f["bytes"] for f in files),
    }


def prepare(cache_dir: str, kind: str, size: int, seed: int) -> Input:
    """Generate (or reuse) the ``kind`` input of ``size`` for ``seed``."""
    d = os.path.join(cache_dir, f"{kind}-{size}-{seed}")
    if not os.path.exists(os.path.join(d, "layout.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        WRITERS[kind](tmp, size, seed)
        with open(os.path.join(tmp, "layout.json"), "w") as f:
            json.dump(layout(os.path.join(tmp, "input.parquet")), f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(os.path.join(d, "layout.json")) as f:
        return Input(d, os.path.join(d, "input.parquet"), json.load(f))
