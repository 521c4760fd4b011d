"""Blocked edit-distance similarity join (record linkage / fuzzy dedup).

Finds all pairs of strings within Levenshtein distance ``k`` WITHOUT
the O(n²) all-pairs comparison — the join that powers title/author
dedup, product-catalog linkage, and near-identical-URL collapse at
corpus scale. The reference measures recognition quality with exactly
this metric (mindocr/metrics/rec_metrics.py:119 —
``Levenshtein.normalized_distance(pred, label)``); here the same
distance becomes a *join predicate*, blocked so it scales.

Blocking scheme: the **symmetric deletion neighborhood** (the SymSpell
/ FastSS family). Candidate pairs are strings that share at least one
variant reachable by deleting ≤ k characters.

Completeness proof (why no true pair is missed): take an optimal
alignment of ``a`` and ``b`` with ``ed(a,b) = d ≤ k``. The aligned
(match or substitute) positions define a common subsequence pattern:
delete from ``a`` every position that the alignment inserts/substitutes
(≤ d deletions) and likewise from ``b`` (≤ d deletions) and both reach
the SAME string — the matched residue. Hence every pair within
distance ``k`` shares a ≤ k-deletion variant, and an equi-join on the
variant string is a complete candidate generator. Candidates are then
verified with the exact ``levenshtein`` built-in (JVM codegen), so the
output equals the naive all-pairs join — the DuckDB oracle for
``q_fuzzy_join`` IS that naive join.

Scale shape (the reason this survives 10^9 keys where a theta-join
dies): variant generation is a codegen-only explode with fan-out
``O(len^k)`` per string (lengths are bounded — titles, names, URLs —
so the fan-out is a constant ~25-60× for k=1); the only exchange is
ONE hash shuffle of the variant table for the self-join, and AQE skew
splitting handles hot variants. Spark plans the verify as a post-join
filter — no second shuffle. Identical strings should be collapsed
BEFORE calling (``groupBy(text)`` + representative), exactly like
exact-dedup-before-near-dup in webx/dedup.py: q identical copies of a
hot string would otherwise contribute q² candidate pairs through every
shared variant.

``max_bucket`` caps pathological variant buckets (the analog of
DEFAULT_MAX_BUCKET in webx/dedup.py:36): a variant shared by more than
``max_bucket`` distinct strings is dropped from candidate generation
with an observable count. Capped buckets only arise from massive
near-identical clusters that exact-dedup should have collapsed; the
default 0 (uncapped) keeps the operator exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def deletion_variants(
    df: DataFrame, text_col: str, k: int = 1, out_col: str = "variant"
) -> DataFrame:
    """All strings reachable from ``text_col`` by deleting ≤ k chars.

    Returns ``df``'s columns plus ``out_col``, one row per DISTINCT
    (input row, variant). Pure codegen: sequence → explode →
    substring concat; no Python, no shuffle.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    out = df.withColumn(out_col, F.col(text_col))
    frontier = out
    for _ in range(k):
        frontier = (
            frontier.select(
                *df.columns,
                F.col(out_col).alias("__s"),
                F.explode(F.sequence(F.lit(1), F.length(out_col))).alias("__p"),
            )
            .select(
                *df.columns,
                F.concat(
                    F.expr("substring(__s, 1, __p - 1)"),
                    F.expr("substring(__s, __p + 1)"),
                ).alias(out_col),
            )
        )
        out = out.unionByName(frontier)
    # distinct per (row, variant): deleting different positions of a
    # run of equal chars yields the same variant — without this the
    # candidate join would re-derive the same pair len(run)² times.
    return out.distinct()


def fuzzy_self_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    max_bucket: int = 0,
) -> DataFrame:
    """All pairs (id_a < id_b) with ``levenshtein(text_a, text_b) <=
    max_dist``, plus the distance. Exact (equals the naive all-pairs
    join) when ``max_bucket`` is 0 — see module docstring.
    """
    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    v = deletion_variants(base, "__t", k=max_dist)
    if max_bucket > 0:
        counts = v.groupBy("variant").agg(F.count("*").alias("__n"))
        v = v.join(
            F.broadcast(counts.filter(F.col("__n") > max_bucket)),
            "variant",
            "left_anti",
        )
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(b, "variant")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__t").alias("text_a"),
            F.col("b.__t").alias("text_b"),
        )
        .distinct()
    )
    return cand.withColumn("dist", F.levenshtein("text_a", "text_b")).filter(
        F.col("dist") <= max_dist
    )
