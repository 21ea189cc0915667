"""Dump formatted physical plans of the headline operators to PLANS.md
so plan quality (pushdown, codegen spans, broadcast decisions, AQE) is
reviewable without a running session.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from sparkdedup.session import get_spark

PLAN_QUERIES = [
    "exact_dedup",
    "ccnet_line_dedup",
    "length_filter",
    "text_stats",
    "jaccard_vs_doc0",
    "ann_topk",
    "embedding_near_dup_lsh",
    "substring_dedup",
    "ann_dedup_ivf",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()
    # plan review wants the RAW scale paths, not the agreement-check
    # wrappers (which add an O(N^2) exact side for driver validation)
    qmap["embedding_near_dup_lsh"] = entrymod.q_embedding_near_dup_lsh_raw
    out = ["# Physical plans (`.explain('formatted')`) — generated by tools/dump_plans.py\n"]
    out.append(
        "Reviewed properties: parquet `PushedFilters`/`ReadSchema` pruning, "
        "WholeStageCodegen spans around the relational core, broadcast joins "
        "for small build sides, AQE wrappers on every exchange, and Arrow "
        "(`ArrowEvalPython`) only where a Python UDF is semantically required, "
        "each UDF evaluated once per scan branch.\n"
    )
    for name in PLAN_QUERIES:
        df = qmap[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")

    # lazy minhash plans (no execution): signature UDF -> banding ->
    # skew-safe edge generation
    from pyspark.sql import functions as F

    from sparkdedup.config import MinHashConfig
    from sparkdedup.io import with_doc_id
    from sparkdedup.minhash import band_edges, minhash_bands

    docs = with_doc_id(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    bands = minhash_bands(docs, MinHashConfig(column="text"))
    edges = band_edges(bands)
    for name, frame in [("minhash_bands", bands), ("minhash_band_edges", edges)]:
        buf = io.StringIO()
        with redirect_stdout(buf):
            frame.explain("formatted")
        out.append(f"\n## {name} (lazy)\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
