"""Bit-identity of webx.xxh64 (pure Python + numpy) vs Spark's xxhash64,
and of the MinHash/SimHash numpy kernels vs a plain-Python reference
built only from the scalar webx.xxh64 functions.

The whole exact-oracle story for the hash-based dedup queries rests on
these invariants: the DuckDB SQL port (webx/oracle_xxh64.py) is itself
tested against the Python reference, and the Python reference against
the JVM here — so Spark, numpy, and DuckDB all compute the same bits.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tests.test_word_ngrams import _py_word_ngrams
from webx import xxh64 as X
from webx.textstats import WS_SPLIT

STRS = [
    "",
    "a",
    "ab",
    "abc",
    "abcd",
    "abcde",
    "abcdefg",
    "abcdefgh",
    "abcdefghi",
    "hello world",
    "x" * 31,
    "y" * 32,
    "z" * 33,
    "w" * 64,
    "v" * 65,
    "the quick brown fox jumps over the lazy dog",
    "café ü ‰ →",  # multi-byte utf-8
    "word1 word2 word3",
]


def test_hash_bytes_matches_spark(spark):
    df = spark.createDataFrame([(s,) for s in STRS], "v string")
    got = [r["h"] for r in df.select(F.xxhash64("v").alias("h")).collect()]
    exp = [X.to_signed(X.hash_bytes(s.encode("utf-8"))) for s in STRS]
    assert got == exp


def test_hash_long_int_matches_spark(spark):
    longs = [0, 1, -1, 42, 2**62, -(2**62), 123456789012345, -(2**63)]
    df = spark.createDataFrame([(v,) for v in longs], "v long")
    got = [r["h"] for r in df.select(F.xxhash64("v").alias("h")).collect()]
    assert got == [X.to_signed(X.hash_long(v & X.M64)) for v in longs]

    ints = [0, 1, -1, 63, 2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(v,) for v in ints], "v int")
    got = [r["h"] for r in df.select(F.xxhash64("v").alias("h")).collect()]
    assert got == [X.to_signed(X.hash_int(v)) for v in ints]


def test_multiarg_fold_matches_spark(spark):
    """xxhash64(long, int) = hash_int(i, seed=hash_long(h, 42)) — the
    minhash slot pattern; and xxhash64(array<long>, int) — the LSH band
    pattern."""
    pairs = [(123456789, 0), (123456789, 5), (-98765, 63), (0, 0)]
    df = spark.createDataFrame(pairs, "h long, i int")
    got = [r["x"] for r in df.select(F.xxhash64("h", "i").alias("x")).collect()]
    exp = [X.to_signed(X.hash_int(i, X.hash_long(h & X.M64))) for h, i in pairs]
    assert got == exp

    arrs = [([1, 2, -3], 0), ([10**12, -5, 7], 3), ([0], 15)]
    df = spark.createDataFrame(arrs, "a array<long>, b int")
    got = [r["x"] for r in df.select(F.xxhash64("a", "b").alias("x")).collect()]

    def fold(arr, b):
        h = X.SPARK_SEED
        for e in arr:
            h = X.hash_long(e & X.M64, h)
        return X.to_signed(X.hash_int(b, h))

    assert got == [fold(a, b) for a, b in arrs]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=100), st.integers(0, X.M64))
def test_numpy_long_kernel_matches_python(data, seed):
    # numpy kernel vs scalar reference on random longs/seeds
    v = X.hash_bytes(data)  # arbitrary-ish 64-bit value
    got = X.hash_long_np(np.array([v], dtype=np.uint64), np.uint64(seed))[0]
    assert int(got) == X.hash_long(v, seed)
    got_i = X.hash_int_np(np.array([v & 0xFFFFFFFF]), np.uint64(seed))[0]
    assert int(got_i) == X.hash_int(v & 0xFFFFFFFF, seed)


def test_minhash_slots_np():
    """The slot fold: per segment and slot, the signed min of
    hash_int(i, hash_long(h)) over the segment's shingle hashes."""
    h0 = np.array([12345, X.M64, 0, 2**63, 7, 2**63 - 1], dtype=np.uint64)
    starts = np.array([0, 1, 4], dtype=np.int64)  # [0] [1, 2, 3] [4, 5]
    sig = X.minhash_slots_np(h0, starts, 16)
    assert sig.shape == (3, 16) and sig.dtype == np.int64
    ends = [*starts[1:], len(h0)]
    for r, (a, b) in enumerate(zip(starts, ends)):
        for i in range(16):
            want = min(
                X.to_signed(X.hash_int(i, X.hash_long(int(h)))) for h in h0[a:b]
            )
            assert int(sig[r, i]) == want


def test_minhash_kernel_memory_is_per_shingle():
    """The signature kernel never builds the (shingles × slots) matrix:
    on 1,000 docs × 300 tokens (298k shingles, whose uint64 matrix alone
    is 145 MiB) its tracemalloc peak stays under 64 MiB, and the rows it
    returns equal the scalar reference."""
    import tracemalloc

    from webx.dedup import _minhash_sigs_np

    rng = np.random.default_rng(7)
    arrs = [
        rng.integers(-(2**63), 2**63 - 1, size=300, dtype=np.int64)
        for _ in range(1000)
    ]
    tracemalloc.start()
    try:
        sig = _minhash_sigs_np(arrs, 64, 3)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert sig.shape == (1000, 64)
    assert peak < 64 * 2**20, f"peak {peak / 2**20:.1f} MiB"
    for r in (0, 999):
        shingles = [_fold(arrs[r][j : j + 3].tolist()) for j in range(298)]
        inner = [X.hash_long(h) for h in shingles]
        want = [min(X.to_signed(X.hash_int(i, h)) for h in inner) for i in range(64)]
        assert sig[r].tolist() == want


def _py_token_hashes(text) -> list:
    """Spark's ``xxhash64`` of each ``split(trim(text), WS_SPLIT)`` token
    (trim strips spaces only); NULL text has no tokens."""
    if text is None:
        return []
    return [X.hash_bytes(t.encode("utf-8")) for t in re.split(WS_SPLIT, text.strip(" "))]


def _fold(values, seed: int = X.SPARK_SEED) -> int:
    """Spark's multi-argument / array ``xxhash64``: a seed-42 chain of
    hash_long over the values."""
    for v in values:
        seed = X.hash_long(v & X.M64, seed)
    return seed


def _py_minhash(text, n_hashes: int, k: int = 3) -> list:
    th = _py_token_hashes(text)
    if len(th) >= k:
        shingles = [_fold(th[i : i + k]) for i in range(len(th) - k + 1)]
    else:
        shingles = [_fold(th)]
    return [
        min(X.to_signed(X.hash_int(i, X.hash_long(h))) for h in shingles)
        for i in range(n_hashes)
    ]


def _py_simhash(text) -> int:
    th = _py_token_hashes(text)
    bits = sum(
        1 << b
        for b in range(64)
        if sum(1 if (h >> b) & 1 else -1 for h in th) > 0
    )
    return X.to_signed(bits)


def _py_minhash_neardup(rows, threshold: float, n_hashes=64, bands=16, k=3) -> dict:
    """MinHash → banded LSH → exact Jaccard verify, in plain Python:
    {(id_a, id_b): jaccard}."""
    rpb = n_hashes // bands
    buckets: dict = {}
    for doc_id, text in rows:
        sig = _py_minhash(text, n_hashes, k)
        for b in range(bands):
            bh = X.hash_int(b, _fold(sig[b * rpb : (b + 1) * rpb]))
            buckets.setdefault((b, bh), set()).add(doc_id)
    cand = {
        (a, b)
        for ids in buckets.values()
        for a in ids
        for b in ids
        if a < b
    }
    text_of = dict(rows)
    out = {}
    for a, b in cand:
        ga, gb = (set(_py_word_ngrams(text_of[i], k, lower=False)) for i in (a, b))
        j = len(ga & gb) / len(ga | gb)
        if j >= threshold:
            out[(a, b)] = j
    return out


@pytest.mark.parametrize("n_hashes", [16, 64])
def test_minhash_impls_identical(spark, n_hashes):
    """The numpy signature kernel equals the plain-Python reference."""
    from webx.dedup import minhash_signatures

    texts = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "completely different content with many words to shingle here"),
        (2, "the quick brown fox jumps over the lazy dog again and"),
        (3, "short"),
        (4, ""),
        (5, None),  # NULL text: the empty token fold
        (6, "\tleading tab  then\r\nmixed whitespace "),
        (7, "two words"),  # fewer than k tokens
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, n_hashes).collect()}
    assert got == {i: _py_minhash(t, n_hashes) for i, t in texts}


def test_minhash_neardup_identical_pairs(spark):
    """Full pipeline: the same verified near-dup pairs and Jaccard values
    as the plain-Python MinHash → LSH → verify reference. Every pair of
    the 30 base docs sits exactly at the 0.5 threshold, so which of them
    survive depends on each band hash."""
    from webx.dedup import minhash_neardup

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(30):
        rows.append((i, f"{base} doc{i} unique tail {i * 7}"))
    rows.append((100, rows[3][1]))  # exact dup of doc 3
    rows.append((101, rows[5][1] + " extra"))  # near dup of doc 5
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_neardup(docs, threshold=0.5).collect()
    }
    assert got == _py_minhash_neardup(rows, threshold=0.5)
    assert (3, 100) in got and (5, 101) in got


def test_simhash_impls_identical(spark):
    """The numpy SimHash kernel equals the plain-Python reference."""
    from webx.dedup import simhash

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "completely different words entirely here now"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "x"),
        (4, ""),
        (5, None),
        (6, "\tleading tab  then\r\nmixed whitespace "),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert got == {i: _py_simhash(t) for i, t in texts}
    assert got[5] == 0
