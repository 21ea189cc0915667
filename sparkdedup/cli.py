"""spark-submit entry point.

Usage (mirrors the reference CLIs, utils/args.py:86-313):

  spark-submit --py-files sparkdedup.zip -m sparkdedup.cli \\
      minhash  --input /data/code_files --output /data/deduped \\
               --column content --threshold 0.7 --num_perm 250 \\
               --work_dir /data/work --metrics /data/metrics.json

Modes: minhash | simhash | exact | bloom | ccnet | substring |
jaccard | ann.
minhash/simhash/ccnet/substring/jaccard/ann run the fully resumable
staged pipelines (sparkdedup.pipeline: work_dir parquet stages +
metrics JSON); exact/bloom are single-shuffle jobs and run in-session.
``ann`` consumes an embeddings table (id + array<float/double> vector)
and runs the reference's ann_unisim adaptive-k dedup over the IVF
index (text_dedup/ann_unisim.py:127-175 semantics; the text->embedding
model step needs weights absent from this environment — embeddings are
an input).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="sparkdedup")
    sub = p.add_subparsers(dest="mode", required=True)

    def common(sp):
        sp.add_argument("--input", "-i", required=True, help="parquet dir or Iceberg table")
        sp.add_argument("--output", "-o", required=True)
        sp.add_argument("--column", "-c", default="content")
        sp.add_argument(
            "--index", default=None,
            help="existing id column (else synthesized); values MUST be "
            "distinct — duplicate or 64-bit-hash-colliding keys abort the "
            "run with a sample of the offenders",
        )
        sp.add_argument("--metrics", default=None, help="metrics JSON path")
        sp.add_argument("--work_dir", default="./sparkdedup_work")

    mh = sub.add_parser("minhash")
    common(mh)
    mh.add_argument("--threshold", type=float, default=0.7)
    mh.add_argument("--ngram_size", type=int, default=5)
    mh.add_argument("--min_length", type=int, default=5)
    mh.add_argument("--num_perm", type=int, default=250)
    mh.add_argument("--b", type=int, default=None)
    mh.add_argument("--r", type=int, default=None)
    mh.add_argument("--hash_bits", type=int, default=32, choices=[16, 32, 64])
    mh.add_argument(
        "--base_hash", default="xxh32", choices=["xxh32", "sha1"],
        help="base shingle hash (sha1 = reference non-Spark default)",
    )
    mh.add_argument("--seed", type=int, default=42)

    sh = sub.add_parser("simhash")
    common(sh)
    sh.add_argument("--ngram_size", type=int, default=3)
    sh.add_argument("--f", type=int, default=64, choices=[64, 128], help="fingerprint bits")
    sh.add_argument("--bit_diff", type=int, default=3)
    sh.add_argument("--num_bucket", type=int, default=4)
    sh.add_argument("--min_length", type=int, default=5)
    sh.add_argument("--seed", type=int, default=42)

    for name in ("exact", "bloom"):
        sp = sub.add_parser(name)
        common(sp)
        sp.add_argument("--hash_func", default="sha256", choices=["md5", "sha256", "xxh64"])

    cc = sub.add_parser("ccnet")
    common(cc)
    cc.add_argument("--hash_func", default="sha256", choices=["md5", "sha256", "xxh64"])

    sa = sub.add_parser("substring")
    common(sa)
    sa.add_argument("--k", type=int, default=100)
    sa.add_argument("--strategy", default="overlapping", choices=["overlapping", "longest"])
    sa.add_argument("--stride", type=int, default=1)

    jc = sub.add_parser("jaccard")
    common(jc)
    jc.add_argument("--threshold", type=float, default=0.7)
    jc.add_argument("--ngram_size", type=int, default=5)
    jc.add_argument("--min_length", type=int, default=5)
    jc.add_argument("--num_perm", type=int, default=250)

    an = sub.add_parser("ann")
    an.add_argument("--input", "-i", required=True, help="embeddings (or, with --encode_text, documents) parquet dir/table")
    an.add_argument("--output", "-o", required=True)
    an.add_argument("--id_column", default="vec_id")
    an.add_argument("--vector_column", default="embedding")
    an.add_argument("--threshold", type=float, default=0.9)
    an.add_argument("--n_centroids", type=int, default=None,
                    help="IVF cells; default derives ~sqrt(N) from the corpus count")
    an.add_argument("--n_probe", type=int, default=None,
                    help="cells probed per query; default derives ~sqrt(n_centroids)")
    an.add_argument("--k0", type=int, default=20)
    an.add_argument("--metrics", default=None)
    an.add_argument("--work_dir", default="./sparkdedup_work")
    an.add_argument(
        "--encode_text", default=None, metavar="COLUMN",
        help="treat --input as a document table and feature-hash-encode "
        "this text column first (staged; see sparkdedup.encode)",
    )
    an.add_argument("--encode_dim", type=int, default=256)
    an.add_argument("--encode_ngram", type=int, default=3)
    an.add_argument("--index", default=None, help="doc id column when encoding (else synthesized)")

    return p


def _run_staged(spark, args):
    """Run the staged pipeline for ``args.mode``; returns its metrics."""
    from sparkdedup import pipeline
    from sparkdedup.config import CCNetConfig, MinHashConfig, SimHashConfig, SubstringConfig

    if args.mode == "minhash":
        cfg = MinHashConfig(
            column=args.column,
            ngram=args.ngram_size,
            min_length=args.min_length,
            num_perm=args.num_perm,
            threshold=args.threshold,
            b=args.b,
            r=args.r,
            hash_bits=args.hash_bits,
            base_hash=args.base_hash,
            seed=args.seed,
        )
        return pipeline.minhash_job(
            spark, args.input, args.output, args.work_dir, cfg, args.index, args.metrics
        )

    if args.mode == "simhash":
        cfg = SimHashConfig(
            column=args.column, ngram=args.ngram_size, f=args.f,
            bit_diff=args.bit_diff, num_bucket=args.num_bucket,
            min_length=args.min_length, seed=args.seed,
        )
        return pipeline.simhash_job(spark, args.input, args.output, args.work_dir, cfg, args.index, args.metrics)

    if args.mode == "ccnet":
        cfg = CCNetConfig(column=args.column, hash_func=args.hash_func)
        return pipeline.ccnet_job(spark, args.input, args.output, args.work_dir, cfg, args.index, args.metrics)

    if args.mode == "jaccard":
        cfg = MinHashConfig(
            column=args.column, ngram=args.ngram_size, min_length=args.min_length,
            num_perm=args.num_perm, threshold=args.threshold,
        )
        return pipeline.jaccard_job(spark, args.input, args.output, args.work_dir, cfg, args.index, args.metrics)

    if args.mode == "ann":
        return pipeline.ann_job(
            spark, args.input, args.output, args.work_dir,
            threshold=args.threshold,
            id_column=args.index if args.encode_text else args.id_column,
            vector_column=args.vector_column, n_centroids=args.n_centroids,
            n_probe=args.n_probe, k0=args.k0, metrics_path=args.metrics,
            text_column=args.encode_text, encode_dim=args.encode_dim,
            encode_ngram=args.encode_ngram,
        )

    if args.mode == "substring":
        cfg = SubstringConfig(column=args.column, k=args.k, strategy=args.strategy, stride=args.stride)
        return pipeline.substring_job(spark, args.input, args.output, args.work_dir, cfg, args.index, args.metrics)

    raise SystemExit(f"unknown mode {args.mode}")  # pragma: no cover


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from sparkdedup.session import get_spark

    spark = get_spark(app_name=f"sparkdedup-{args.mode}", checkpoint_dir=args.work_dir + "/ckpt")
    t0 = time.time()

    if args.mode in ("exact", "bloom"):
        from sparkdedup.config import ExactHashConfig
        from sparkdedup.exact import exact_hash_dedup
        from sparkdedup.io import partitioned_save, read_documents, with_doc_id

        df = with_doc_id(read_documents(spark, args.input), args.index)
        if args.index is None:
            df = df.persist()  # mii stability across reuse
        before = df.count()
        kept = exact_hash_dedup(df, ExactHashConfig(column=args.column, hash_func=args.hash_func))
        after = kept.count()
        partitioned_save(kept, args.output)
    else:
        m = _run_staged(spark, args)
        before, after = m.rows_before, m.rows_after

    summary = {"mode": args.mode, "before": before, "after": after, "seconds": round(time.time() - t0, 2)}
    if args.metrics and args.mode in ("exact", "bloom"):  # staged jobs write their own
        with open(args.metrics, "w") as f:
            json.dump(summary, f, indent=2)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
