"""Blocked Levenshtein join (webx/fuzzy.py) vs brute-force truth.

The load-bearing test is the randomized completeness check: the
deletion-neighborhood blocking claims EXACT equality with the naive
all-pairs join, so we compare against a pure-Python O(n²) Levenshtein
sweep on adversarial corpora (short strings over a 3-letter alphabet —
the densest possible neighborhood structure) at k=1 and k=2.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from webx.fuzzy import deletion_variants, fuzzy_self_pairs


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _truth(strings, k):
    out = set()
    for i in range(len(strings)):
        for j in range(i + 1, len(strings)):
            d = _lev(strings[i], strings[j])
            if d <= k:
                out.add((i, j, d))
    return out


def _spark_pairs(spark, strings, k, **kw):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "id long, s string"
    )
    rows = fuzzy_self_pairs(df, "id", "s", max_dist=k, **kw).collect()
    return {(r.id_a, r.id_b, r.dist) for r in rows}


def test_known_pairs(spark):
    strings = ["kitten", "sitten", "sittin", "sitting", "banana", "bananas"]
    got = _spark_pairs(spark, strings, 1)
    assert (0, 1, 1) in got  # substitute
    assert (1, 2, 1) in got  # substitute
    assert (2, 3, 1) in got  # insert
    assert (4, 5, 1) in got  # append
    assert not any(p[:2] == (0, 3) for p in got)  # distance 3


def test_randomized_completeness_k1(spark):
    rng = random.Random(7)
    strings = list(
        {
            "".join(rng.choice("abc") for _ in range(rng.randint(2, 7)))
            for _ in range(200)
        }
    )
    assert _spark_pairs(spark, strings, 1) == _truth(strings, 1)


def test_randomized_completeness_k2(spark):
    rng = random.Random(11)
    strings = list(
        {
            "".join(rng.choice("ab") for _ in range(rng.randint(2, 6)))
            for _ in range(80)
        }
    )
    truth = _truth(strings, 2)
    assert any(d == 2 for _, _, d in truth)  # the corpus exercises k=2
    assert _spark_pairs(spark, strings, 2) == truth


def test_deletion_variants_counts(spark):
    df = spark.createDataFrame([(0, "abc")], "id long, s string")
    got = {r.variant for r in deletion_variants(df, "s", k=1).collect()}
    assert got == {"abc", "bc", "ac", "ab"}
    got2 = {r.variant for r in deletion_variants(df, "s", k=2).collect()}
    assert got2 == {"abc", "bc", "ac", "ab", "a", "b", "c"}
    # run-of-equal-chars dedup: "aaa" has ONE distinct 1-deletion variant
    df2 = spark.createDataFrame([(0, "aaa")], "id long, s string")
    assert {r.variant for r in deletion_variants(df2, "s", k=1).collect()} == {
        "aaa",
        "aa",
    }


def test_max_bucket_cap_drops_hot_variant(spark):
    # 30 strings all within distance 1 of each other via a shared hot
    # variant; cap far below the cluster size -> pairs through capped
    # buckets vanish, the operator stays a subset of the truth.
    strings = ["x" + chr(ord("a") + i) for i in range(26)]
    uncapped = _spark_pairs(spark, strings, 1)
    capped = _spark_pairs(spark, strings, 1, max_bucket=5)
    assert capped < uncapped
    truth = _truth(strings, 1)
    assert uncapped == truth
