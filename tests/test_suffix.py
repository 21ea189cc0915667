"""Exact-substring dedup: rolling-hash unit tests + E2E vs a
brute-force dict-counting oracle (independent implementation: boolean
position mask instead of interval merging)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkdedup.config import SubstringConfig
from sparkdedup.fixtures import LICENSE_HEADER, generate_code_files
from sparkdedup.suffix import (
    _B1, _B1_INV, _detect_dup_keys, rolling_hashes, splice_out, substring_dedup,
)


def duplicated_windows(df, cfg):
    """Window occurrences whose fingerprint repeats: pass A's summed ``c``."""
    return _detect_dup_keys(df, cfg).agg(F.coalesce(F.sum("c"), F.lit(0))).first()[0]


def brute_force_substring_dedup(texts, k):
    """Oracle: count k-byte windows over the corpus; remove every byte
    covered by a window occurring more than once; drop emptied docs."""
    from collections import Counter

    counts = Counter()
    encoded = [t.encode("utf-8") for t in texts]
    for data in encoded:
        for i in range(len(data) - k + 1):
            counts[data[i : i + k]] += 1
    out = []
    for data in encoded:
        mask = np.zeros(len(data), dtype=bool)
        for i in range(len(data) - k + 1):
            if counts[data[i : i + k]] > 1:
                mask[i : i + k] = True
        kept = bytes(data[i] for i in range(len(data)) if not mask[i])
        out.append(kept.decode("utf-8", errors="ignore"))
    return out


def test_rolling_hash_matches_direct():
    rng = np.random.RandomState(0)
    data = rng.randint(0, 256, size=200).astype(np.uint8)
    k = 13
    hs = rolling_hashes(data, k, _B1, _B1_INV)
    assert hs.size == 200 - k + 1
    with np.errstate(over="ignore"):
        pows = np.array([int(_B1) ** j % (1 << 64) for j in range(k)], dtype=np.uint64)
        for i in [0, 1, 57, 187]:
            direct = np.uint64(0)
            direct = (data[i : i + k].astype(np.uint64) * pows).sum(dtype=np.uint64)
            assert hs[i] == direct


def test_rolling_hash_equal_windows_collide_only_when_equal():
    data = np.frombuffer(b"abcabcabcabc", dtype=np.uint8)
    hs = rolling_hashes(data, 3, _B1, _B1_INV)
    assert hs[0] == hs[3] == hs[6] == hs[9]  # "abc" everywhere
    assert hs[0] != hs[1]


def test_splice_out_union_semantics():
    text = "0123456789"
    # windows at 0 and 2 with k=3 -> union [0,5) removed
    assert splice_out(text, [0, 2], 3) == "56789"
    # disjoint windows
    assert splice_out(text, [0, 7], 3) == "3456"
    # empty
    assert splice_out(text, [], 3) == text


def test_substring_e2e_matches_bruteforce(spark):
    corpus = generate_code_files(300, seed=42)
    texts = corpus["content"].tolist()
    k = 80
    oracle_out = brute_force_substring_dedup(texts, k)
    expect = {
        int(d): t for d, t in zip(corpus["doc_id"], oracle_out) if len(t) > 0
    }

    df = spark.createDataFrame(corpus).withColumn("__id__", F.col("doc_id"))
    cfg = SubstringConfig(column="content", k=k)
    res = substring_dedup(df, cfg)
    got = {row["doc_id"]: row["content"] for row in res.kept.select("doc_id", "content").collect()}
    assert set(got) == set(expect)
    mism = [i for i in got if got[i] != expect[i]]
    assert not mism, f"content mismatch for ids {mism[:5]}"
    # license headers are planted >= 80 bytes shared: they must be gone
    assert duplicated_windows(df, cfg) > 0
    for i, t in got.items():
        assert LICENSE_HEADER not in t


def test_substring_shuffle_fallback_matches_broadcast(spark):
    """Forcing the shuffle path (max_broadcast_keys=0) must give byte-
    identical output to the broadcast-membership path."""
    corpus = generate_code_files(150, seed=7)
    df = spark.createDataFrame(corpus).withColumn("__id__", F.col("doc_id"))
    k = 80
    cfg_b = SubstringConfig(column="content", k=k)
    cfg_s = SubstringConfig(column="content", k=k, max_broadcast_keys=0)
    res_b = substring_dedup(df, cfg_b)
    res_s = substring_dedup(df, cfg_s)
    assert res_b.metrics.facts["splice_path"] == "broadcast"
    assert res_s.metrics.facts["splice_path"] == "shuffle"
    got_b = {r["doc_id"]: r["content"] for r in res_b.kept.select("doc_id", "content").collect()}
    got_s = {r["doc_id"]: r["content"] for r in res_s.kept.select("doc_id", "content").collect()}
    assert got_b == got_s
    assert duplicated_windows(df, cfg_b) == duplicated_windows(df, cfg_s)


def test_substring_chunked_matches_unchunked(spark):
    """Tiny chunk_bytes (forcing many chunk boundaries inside every doc)
    must not change the result — windows straddling boundaries are
    covered by the k-1 overlap."""
    corpus = generate_code_files(80, seed=3)
    texts = corpus["content"].tolist()
    k = 60
    expect = {
        int(d): t
        for d, t in zip(corpus["doc_id"], brute_force_substring_dedup(texts, k))
        if len(t) > 0
    }
    df = spark.createDataFrame(corpus).withColumn("__id__", F.col("doc_id"))
    res = substring_dedup(df, SubstringConfig(column="content", k=k, chunk_bytes=97))
    got = {r["doc_id"]: r["content"] for r in res.kept.select("doc_id", "content").collect()}
    assert got == expect


def test_substring_adversarial_fully_duplicated_large_doc(spark):
    """One ~4 MB fully-duplicated doc: per-doc state must stay bounded
    (ranges, not per-byte offsets) and the doc must vanish entirely."""
    import pandas as pd

    big = ("def f(x):\n    return x * 31337\n" * 140000)[: 4 << 20]
    data = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "content": [big, big, "completely unrelated tiny unique document body"],
        }
    )
    df = spark.createDataFrame(data).withColumn("__id__", F.col("doc_id"))
    cfg = SubstringConfig(column="content", k=100, chunk_bytes=1 << 20)
    res = substring_dedup(df, cfg)
    got = {r["doc_id"]: r["content"] for r in res.kept.collect()}
    # both copies of the big doc are fully self-similar -> dropped
    assert set(got) == {2}
    assert got[2] == data["content"][2]
    # the shuffle fallback must also produce merged ranges, not blow up
    res_s = substring_dedup(
        df, SubstringConfig(column="content", k=100, chunk_bytes=1 << 20, max_broadcast_keys=0)
    )
    got_s = {r["doc_id"]: r["content"] for r in res_s.kept.collect()}
    assert got_s == got


def test_substring_stride_detects_long_runs(spark):
    """stride>1: duplicated runs of length >= k+stride-1 are still fully
    detected at their window granularity."""
    import pandas as pd

    shared = "S" * 500  # run length 500 >> k+stride-1
    data = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "content": ["alpha0beta1" + shared + "gamma2delta", "ZERO9eight8" + shared + "SEVEN7six66"],
        }
    )
    df = spark.createDataFrame(data).withColumn("__id__", F.col("doc_id"))
    res = substring_dedup(df, SubstringConfig(column="content", k=100, stride=7))
    got = {r["doc_id"]: r["content"] for r in res.kept.collect()}
    for t in got.values():
        # edge leftovers < k+stride-1 bytes can survive, but the bulk of
        # the duplicated run must be gone and unique flanks intact
        assert "S" * 120 not in t
    assert "alpha0beta1" in got[0] and "gamma2delta" in got[0]
    assert "ZERO9eight8" in got[1] and "SEVEN7six66" in got[1]


def test_substring_no_dups_is_identity(spark):
    import pandas as pd

    data = pd.DataFrame(
        {"doc_id": [0, 1], "content": ["totally unique first document text", "another unrelated second document"]}
    )
    df = spark.createDataFrame(data).withColumn("__id__", F.col("doc_id"))
    res = substring_dedup(df, SubstringConfig(column="content", k=20))
    got = {r["doc_id"]: r["content"] for r in res.kept.collect()}
    assert got == {0: data["content"][0], 1: data["content"][1]}


def test_substring_shuffle_64mb_fully_duplicated_doc(spark):
    """VERDICT r2 #5 done-criterion: a >=64 MB fully-duplicated doc
    through the SHUFFLE path (max_broadcast_keys=0) must compress to a
    bounded number of ranges per doc (bounded NumPy buffers, run-length
    merged, then one per-doc merge — never a per-doc sort of 10^8
    window rows) and match the broadcast path."""
    import pandas as pd

    from sparkdedup.suffix import _detect_dup_keys, _dup_ranges, make_window_rows, _WIN_SCHEMA
    from pyspark.sql.types import LongType, StructField, StructType

    unit = "int register_%07d(void) { return (x << 13) ^ 0x9e3779b9; }\n"
    big = (unit * (64 * 1024 * 1024 // len(unit) + 1))[: 64 << 20]
    assert len(big) >= 64 << 20
    data = pd.DataFrame({"doc_id": [0, 1, 2], "content": [big, big, "tiny unique survivor doc"]})
    df = spark.createDataFrame(data).withColumn("__id__", F.col("doc_id")).persist()
    cfg = SubstringConfig(column="content", k=100, max_broadcast_keys=0)

    # range compression evidence: both 64 MB docs collapse to ONE range.
    # Materialized, the 59 dup keys have a known size and are broadcast
    # from the start; unmaterialized, Spark first shuffles all 134M
    # window rows for a sort-merge join that AQE then drops.
    dup_keys = _detect_dup_keys(df, cfg).persist()
    dup_keys.count()
    wins = df.select("__id__", "content").mapInPandas(
        make_window_rows(cfg, "__id__"),
        schema=StructType([StructField("__id__", LongType())] + list(_WIN_SCHEMA.fields)),
    )
    dup_wins = wins.join(dup_keys.select("h1", "h2"), on=["h1", "h2"], how="leftsemi")
    ranges = _dup_ranges(dup_wins, cfg, "__id__").groupBy("__id__").count().collect()
    per_doc = {r["__id__"]: r["count"] for r in ranges}
    assert per_doc == {0: 1, 1: 1}, per_doc

    res = substring_dedup(df, cfg)
    assert res.metrics.facts["splice_path"] == "shuffle"
    got = {r["doc_id"]: r["content"] for r in res.kept.collect()}
    assert set(got) == {2} and got[2] == "tiny unique survivor doc"
    res.release()
    dup_keys.unpersist()
    df.unpersist()


def test_cosort_key_halves_heavy_duplication_fallback():
    """ADVICE r3: when most windows repeat (near-duplicated text), the
    per-run fixup must degrade to the vectorized lexsort, and both
    paths must produce the identical (h1, h2) ordering."""
    import numpy as np

    from sparkdedup.suffix import _cosort_key_halves

    rng = np.random.RandomState(3)
    # every key appears exactly twice with DIFFERENT h2 order -> every
    # h1 run needs a resort; 20k runs would be 20k interpreter loops
    base1 = rng.randint(0, 1 << 62, 20_000, dtype=np.int64)
    h1 = np.repeat(base1, 2)
    h2 = rng.randint(0, 1 << 62, h1.size, dtype=np.int64)
    perm = rng.permutation(h1.size)
    h1, h2 = h1[perm], h2[perm]
    s1, s2 = _cosort_key_halves(h1, h2)
    order = np.lexsort((h2, h1))
    assert np.array_equal(s1, h1[order])
    assert np.array_equal(s2, h2[order])
    # rare-duplicate path (below the fallback threshold) agrees too
    h1b = np.concatenate([base1, base1[:100]])
    h2b = rng.randint(0, 1 << 62, h1b.size, dtype=np.int64)
    s1b, s2b = _cosort_key_halves(h1b, h2b)
    ob = np.lexsort((h2b, h1b))
    assert np.array_equal(s1b, h1b[ob]) and np.array_equal(s2b, h2b[ob])


def test_dup_ranges_exact_under_shuffle_join(spark, monkeypatch):
    """With broadcast joins off, the semi-join shuffles the window rows
    by fingerprint: a doc's (id, off) rows reach the range collapse out
    of offset order and spread over partitions, and a tiny collapse
    buffer splits them further. The merged ranges must still equal the
    driver-side merge of each doc's duplicated offsets, and the kept
    rows the broadcast path's."""
    from pyspark.sql.types import LongType, StructField, StructType

    from sparkdedup import suffix

    corpus = generate_code_files(60, seed=11)
    df = spark.createDataFrame(corpus).withColumn("__id__", F.col("doc_id"))
    k = 50
    res_b = substring_dedup(df, SubstringConfig(column="content", k=k))
    assert res_b.metrics.facts["splice_path"] == "broadcast"
    expect_kept = {r["doc_id"]: r["content"] for r in res_b.kept.select("doc_id", "content").collect()}

    buffer_rows = 64
    monkeypatch.setattr(suffix, "_COLLAPSE_ROWS", buffer_rows)
    cfg = SubstringConfig(column="content", k=k, max_broadcast_keys=0)
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        wins = df.select("__id__", "content").mapInPandas(
            suffix.make_window_rows(cfg, "__id__"),
            schema=StructType(
                [StructField("__id__", LongType())] + list(suffix._WIN_SCHEMA.fields)
            ),
        )
        dup_keys = suffix._detect_dup_keys(df, cfg).select("h1", "h2")
        dup_wins = wins.join(dup_keys, on=["h1", "h2"], how="leftsemi")
        rows = dup_wins.select("__id__", "off")
        offs = rows.toPandas()
        plan = rows._jdf.queryExecution().executedPlan().toString()
        ranges = suffix._dup_ranges(dup_wins, cfg, "__id__").toPandas()
        res_s = substring_dedup(df, cfg)
        assert res_s.metrics.facts["splice_path"] == "shuffle"
        got_kept = {r["doc_id"]: r["content"] for r in res_s.kept.select("doc_id", "content").collect()}
    finally:
        spark.conf.set(threshold, old)

    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    per_doc = offs.groupby("__id__")["off"]
    assert per_doc.size().max() > 4 * buffer_rows  # one doc spans several buffers
    expect = {
        int(d): suffix.merge_offsets_to_ranges(np.sort(o.to_numpy()), k) for d, o in per_doc
    }
    got = {
        int(d): sorted(zip(g["start"].tolist(), g["end"].tolist()))
        for d, g in ranges.groupby("__id__")
    }
    assert got == expect
    assert got_kept == expect_kept
