"""Shingling semantics pins (reference tokenization doctests,
/root/reference/text_dedup/utils/tokenization.py:28-35 and
minhash_spark.py:128-133)."""

import numpy as np
import pytest

from sparkdedup.shingle import char_shingles, fold_segments, word_shingle_hashes_batch, word_shingles


def test_word_shingles_basic():
    assert word_shingles("a b c d", 2, 1) == {b"a b", b"b c", b"c d"}


def test_word_shingles_below_min_length_is_none():
    # doctest: ngrams("a b c d", 2, min_length=5) -> []
    assert word_shingles("a b c d", 2, 5) is None


def test_word_shingles_short_doc_whole_tuple():
    # doctest: ngrams("a b", 3, min_length=1) -> [("a","b")] -> "a b"
    assert word_shingles("a b", 3, 1) == {b"a b"}


def test_word_shingles_lowercase_and_nonalpha_split():
    # \W splits on punctuation; lower() applied
    assert word_shingles("Foo.Bar", 1, 1) == {b"foo", b"bar"}


def test_word_shingle_hashes_match_reference_doctest():
    # ngram_hashes("a b c d", 2, min_length=1) == {145323813, 433422276, 459146835}
    [hashes] = word_shingle_hashes_batch(["a b c d"], 2, 1)
    assert sorted(hashes.tolist()) == [145323813, 433422276, 459146835]


def test_word_shingle_hashes_batch_none_for_short():
    out = word_shingle_hashes_batch(["a b c d", "x y"], 2, 3)
    assert sorted(out[0].tolist()) == [145323813, 433422276, 459146835]
    assert out[1] is None


def test_char_shingles():
    assert char_shingles("abcd", 2, 1) == {b"ab", b"bc", b"cd"}
    assert char_shingles("AB", 3, 1) == {b"ab"}
    assert char_shingles("ab", 3, 5) is None


def test_unicode_tokenization_matches_python_re():
    # unicode word chars are NOT split by Python \W (re.UNICODE)
    s = word_shingles("naïve café 数据 test word", 1, 1)
    assert "naïve".encode() in s
    assert "数据".encode() in s


@pytest.mark.parametrize("chunk", [1, 3, 7, 50])
def test_fold_segments_matches_per_doc_reduce(chunk):
    """Every slice size, including ones that end exactly on a doc
    boundary, gives each doc its own whole-doc reduction; None and
    empty docs keep the accumulator's initial value."""
    rng = np.random.default_rng(chunk)
    sizes = [0, 3, None, 1, 7, 4, 0, 14, 2, None, 21, 1]
    per_doc = [None if n is None else rng.integers(0, 1000, size=(n, 2)) for n in sizes]
    for ufunc, init in ((np.minimum, 10_000), (np.add, 5)):
        acc = np.full((len(per_doc), 4), init, dtype=np.int64)
        got = fold_segments(per_doc, lambda h: np.hstack([h, -h]), ufunc, acc, chunk)
        for i, h in enumerate(per_doc):
            want = np.full(4, init)
            if h is not None and len(h):
                want = ufunc(want, ufunc.reduce(np.hstack([h, -h]), axis=0))
            assert got[i].tolist() == want.tolist()
