"""The benchmark's workloads: what one run calls, how its output is
checked, and the traced composition that splits it into layer spans.

A run is one call of a production job entry point on a fresh output and
work directory. The traced composition calls each layer's public
functions one after another and writes each layer's output to parquet,
so every span's Spark jobs belong to that layer alone.
"""

from __future__ import annotations

import os
import time
from typing import Dict, List, Tuple

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.inputs import DOC_COLUMNS, Input, layout
from perfbench.probe import Measured, Probe
from sparkdedup.cc import connected_components
from sparkdedup.io import DOC_ID, ensure_parallelism, partitioned_save, read_documents, with_doc_id
from sparkdedup.minhash import COMPONENT, SIG

# every span any workload traces; a workload reports zeros for the
# spans its pipeline does not have
SPANS = ["io.scan", "minhash.signatures", "minhash.band_edges", "cc", "keep_write"]
COUNTS = {
    "cc.iterations": "count",
    "cc.driver_path": "bool",
    "minhash.band_edges.edges_per_doc": "edges/doc",
    "keep_write.kept_frac": "fraction",
}
ENCODE_DIM = 256  # ann_job's default encode_dim


def _rows(path: str) -> int:
    return layout(path)["rows"]


class Workload:
    name = ""
    kind = ""  # input generator in perfbench.inputs
    size = 0  # documents or edges
    nominal_run_s = 1.0  # one warm run, sets the count of timed runs
    warmup_runs = 1  # untimed, counted in setup_s

    def load(self, inp: Input) -> None:
        """Read what the output checks need; runs once, untimed."""
        self.inp = inp

    def job(self, spark, d: str):
        raise NotImplementedError

    def check(self, d: str, result) -> List[str]:
        """Failures of the output in ``d``; ``result`` is what ``job``
        returned, or None for the traced composition's output."""
        raise NotImplementedError

    def trace(self, spark, d: str, probe: Probe) -> Tuple[Dict[str, Measured], Dict[str, float]]:
        raise NotImplementedError


class MinhashCode(Workload):
    """minhash_job over a code corpus; checks the surviving documents."""

    name = "minhash_code"
    kind = "code"
    size = 3000
    nominal_run_s = 6.0
    # the first warm run is still a third slower than the third: the
    # JVM keeps compiling the planner's and the writer's code paths
    warmup_runs = 2

    def load(self, inp: Input) -> None:
        super().load(inp)
        self.docs = inp.table().set_index("doc_id")
        truth = inp.truth()
        self.exact = truth[truth["exact_group"] >= 0]
        self.survivors = None

    def job(self, spark, d: str):
        from sparkdedup.pipeline import minhash_job

        return minhash_job(
            spark, self.inp.path, os.path.join(d, "out"), os.path.join(d, "work"), id_column="doc_id"
        )

    def check(self, d: str, result) -> List[str]:
        stages = result.stages.items() if result is not None else ()
        fails = [f"stage {k} resumed" for k, s in stages if s.resumed]
        out = pq.read_table(os.path.join(d, "out")).to_pandas()
        ids = out["doc_id"].to_numpy()
        if len(np.unique(ids)) != len(ids):
            fails.append("output repeats a doc_id")
        if not (out[DOC_ID].to_numpy() == ids).all():
            fails.append(f"{DOC_ID} differs from doc_id")
        kept = out.set_index("doc_id")[DOC_COLUMNS]
        if not kept.equals(self.docs.loc[ids, DOC_COLUMNS]):
            fails.append("kept rows are not byte-identical to their input rows")
        ex = self.exact.assign(kept=np.isin(self.exact["doc_id"].to_numpy(), ids))
        groups = ex.sort_values("doc_id").groupby("exact_group")
        bad = (groups["kept"].sum() != 1) | ~groups["kept"].first()
        if bad.any():
            fails.append(
                f"{int(bad.sum())} of {len(bad)} exact-duplicate groups do not keep exactly their minimum doc_id"
            )
        if self.survivors is None:
            self.survivors = len(ids)
        elif self.survivors != len(ids):
            fails.append(f"survivor count {len(ids)} differs from {self.survivors} in an earlier run")
        return fails

    def trace(self, spark, d, probe):
        from sparkdedup.config import MinHashConfig
        from sparkdedup.minhash import band_edges, make_signature_udf

        cfg = MinHashConfig()
        p = {k: os.path.join(d, k) for k in ("ids", "sig", "edges", "assign", "out")}
        spans = {}
        with probe.measure("io.scan") as spans["io.scan"]:
            ids = with_doc_id(ensure_parallelism(read_documents(spark, self.inp.path)), "doc_id")
            ids.write.parquet(p["ids"])
        ids = spark.read.parquet(p["ids"])
        with probe.measure("minhash.signatures") as spans["minhash.signatures"]:
            (
                ids.select(F.col(DOC_ID), make_signature_udf(cfg)(F.col(cfg.column)).alias(SIG))
                .filter(F.col(SIG).isNotNull())
                .write.parquet(p["sig"])
            )
        sig = spark.read.parquet(p["sig"])
        with probe.measure("minhash.band_edges") as spans["minhash.band_edges"]:
            bands = sig.select(F.col(DOC_ID), F.posexplode(SIG).alias("band", "hash"))
            band_edges(bands).write.parquet(p["edges"])
        with probe.measure("cc") as spans["cc"]:
            assignment, stats = connected_components(spark.read.parquet(p["edges"]))
            assignment.write.parquet(p["assign"])
        with probe.measure("keep_write") as spans["keep_write"]:
            # minhash_job's representative filter: rows outside any
            # component, or the component minimum
            assignment = spark.read.parquet(p["assign"])
            kept = (
                ids.join(sig.select(DOC_ID), on=DOC_ID, how="leftsemi")
                .join(
                    assignment.withColumnRenamed("id", DOC_ID).withColumnRenamed("component", COMPONENT),
                    on=DOC_ID,
                    how="left",
                )
                .filter(F.col(COMPONENT).isNull() | (F.col(COMPONENT) == F.col(DOC_ID)))
                .drop(COMPONENT)
            )
            partitioned_save(kept, p["out"])
        counts = {
            "cc.iterations": stats.iterations,
            "cc.driver_path": float(stats.mode == "driver"),
            "minhash.band_edges.edges_per_doc": _rows(p["edges"]) / self.size,
            "keep_write.kept_frac": _rows(p["out"]) / self.size,
        }
        return spans, counts


class CcGraph(Workload):
    name = "cc_graph"
    kind = "graph"
    size = 200_000
    nominal_run_s = 4.5

    def load(self, inp: Input) -> None:
        super().load(inp)
        self.truth = inp.truth()

    def job(self, spark, d: str):
        assignment, stats = connected_components(spark.read.parquet(self.inp.path))
        partitioned_save(assignment, os.path.join(d, "out"))
        return stats

    def check(self, d: str, result) -> List[str]:
        out = pq.read_table(os.path.join(d, "out")).to_pandas().sort_values("id", ignore_index=True)
        if len(out) != len(self.truth) or (out["id"] != self.truth["id"]).any():
            return ["assigned vertex set differs from the graph's vertices"]
        wrong = int((out["component"] != self.truth["label"]).sum())
        return [f"{wrong} labels differ from their planted component minimum"] if wrong else []

    def trace(self, spark, d, probe):
        spans = {}
        with probe.measure("cc") as spans["cc"]:
            stats = self.job(spark, d)
        counts = {"cc.iterations": stats.iterations, "cc.driver_path": float(stats.mode == "driver")}
        return spans, counts


# minhash_code spends its time in the signature UDF and the band join,
# with CC near idle; cc_graph is nearly all CC and runs no Python UDF.
# Each of the two optimisation directions (the UDF boundary, CC) thus
# has one workload that exercises it and one that bypasses it.
WORKLOADS = {w.name: w for w in (MinhashCode, CcGraph)}

KERNELS = ["kernel.minhash_docs_per_s", "kernel.encode_docs_per_s", "kernel.simhash_docs_per_s"]


def kernel_rates(seed: int, n_docs: int = 1000, repeats: int = 3) -> Dict[str, float]:
    """Single-thread docs/s of the per-document kernels, outside Spark,
    on a seeded batch of code files; the median of ``repeats`` passes
    after one warm pass."""
    from sparkdedup.config import SEED, MinHashConfig, SimHashConfig
    from sparkdedup.encode import hash_embed_batch
    from sparkdedup.fixtures import generate_code_files
    from sparkdedup.minhash import compute_band_signatures
    from sparkdedup.simhash import compute_fingerprints

    texts = generate_code_files(n_docs, seed)["content"].tolist()
    calls = {
        "kernel.minhash_docs_per_s": lambda: compute_band_signatures(texts, MinHashConfig()),
        "kernel.encode_docs_per_s": lambda: hash_embed_batch(texts, ENCODE_DIM, 3, 5, SEED),
        "kernel.simhash_docs_per_s": lambda: compute_fingerprints(texts, SimHashConfig()),
    }
    rates = {}
    for name, call in calls.items():
        call()
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            call()
            times.append(time.perf_counter() - t0)
        rates[name] = n_docs / float(np.median(times))
    return rates
