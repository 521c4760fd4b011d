"""webx.dedup.word_ngrams (the mapInPandas gram kernel) against a
plain-Python reference and against the Catalyst transform/slice
expression it replaced: same gram strings, same first-occurrence order,
for the decontamination form (n=13, lowercased) and the shingle form
(k=3, as-is)."""

from __future__ import annotations

import re

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from webx.dedup import word_ngrams
from webx.textstats import WS_SPLIT

FORMS = [(13, True), (3, False)]

# Few distinct words so grams repeat; İ, ß and Σ are where JVM and
# Python case mapping are most likely to part.
WORDS = ["a", "b", "Ab", "İstanbul", "STRASSE", "ß", "ΟΔΟΣ", "Σ", "σς", "x1"]
SEPS = [" ", "  ", "\t", "\n", "\r\n", " \t "]

texts = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.tuples(st.sampled_from(SEPS), st.sampled_from(WORDS)), max_size=40).map(
            lambda parts: "".join(s + w for s, w in parts)
        ),
        st.text(alphabet="abAB İßΣ\t\n", max_size=60),
    ),
    min_size=1,
    max_size=8,
)


def _catalyst_word_ngrams(col: str, n: int, lower: bool):
    """The Catalyst builder word_ngrams replaced, kept verbatim as the
    reference for byte-identical output."""
    toks = F.split(F.trim(F.col(col)), WS_SPLIT)
    if lower:
        toks = F.transform(toks, lambda t: F.lower(t))
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.when(
        cnt >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def _py_word_ngrams(text, n: int, lower: bool) -> list:
    """Spark's trim (spaces only) and regex split, then every window."""
    if text is None:
        return [""]
    toks = re.split(WS_SPLIT, text.strip(" "))
    if lower:
        toks = [t.lower() for t in toks]
    if len(toks) < n:
        return [" ".join(toks)]
    out = []
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i : i + n])
        if g not in out:
            out.append(g)
    return out


def _grams(df) -> dict:
    return {r["doc_id"]: list(r["grams"]) for r in df.collect()}


@settings(max_examples=25, deadline=None)
@given(texts)
@example([None, "", "\tlead tab a b c", "few words"])
@example(["a b a b a b a b c a b a b a b a b a b a b", "x y x y x y"])
@example(["İstanbul STRASSE ß ΟΔΟΣ Σ ΣΑΣ İİ Straße ΌΣΟΣ a b c d e f", "ΟΔΟΣ"])
def test_word_ngrams_matches_references(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for n, lower in FORMS:
        got = _grams(word_ngrams(df, n, lower=lower))
        want = _grams(df.select("doc_id", _catalyst_word_ngrams("text", n, lower).alias("grams")))
        assert got == want, (n, lower)
        assert got == {i: _py_word_ngrams(t, n, lower) for i, t in enumerate(texts)}, (n, lower)


def test_word_ngrams_keeps_columns_and_text_col(spark):
    df = spark.createDataFrame(
        [(7, "x", "a b c d"), (8, "y", None)], "doc_id long, tag string, body string"
    )
    got = word_ngrams(df, 3, text_col="body", keep=("tag", "doc_id"))
    assert got.columns == ["tag", "doc_id", "grams"]
    assert [tuple(r) for r in got.orderBy("doc_id").collect()] == [
        ("x", 7, ["a b c", "b c d"]),
        ("y", 8, [""]),
    ]


@pytest.mark.parametrize("n", [1, 2])
def test_word_ngrams_short_windows(spark, n):
    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    assert _grams(word_ngrams(df, n)) == {1: _py_word_ngrams("a b a b", n, False)}
