"""Dedup / similarity / textstats operator tests on tiny crafted frames."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from webx.dedup import (
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_neardup,
    minhash_signatures,
    simhash,
    simhash_neardup,
)
from webx.similarity import cosine_topk, hyperplanes, lsh_topk
from webx.textstats import fingerprint, lang_id, quality_score, token_count


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    d = docs_df(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    out = {r["min_doc_id"]: r["n_dups"] for r in exact_dedup(d).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_identical_docs_full_signature_match(spark):
    t = "the quick brown fox jumps over the lazy dog again and again today"
    d = docs_df(spark, [(1, t), (2, t), (3, "completely different words entirely here now")])
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(d).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_neardup_finds_planted_pair(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    near = base + " omicron"  # one extra word -> high jaccard
    d = docs_df(spark, [(1, base), (2, near), (3, "unrelated totally different text body here")])
    pairs = minhash_neardup(d, threshold=0.6).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.6


def test_jaccard_verify_exact_value(spark):
    # shingle sets: doc1 k=3 over 4 tokens -> {abc, bcd}; doc2 -> {abc}
    d = docs_df(spark, [(1, "a b c d"), (2, "a b c")])
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = jaccard_verify(d, pairs, shingle_k=3, threshold=0.0).collect()
    assert len(out) == 1
    assert abs(out[0]["jaccard"] - 0.5) < 1e-9


def test_simhash_near_identical(spark):
    base = " ".join(f"word{i}" for i in range(40))
    near = base.replace("word7", "word7x")
    d = docs_df(spark, [(1, base), (2, near), (3, "x y z")])
    sh = {r["doc_id"]: r["simhash"] for r in simhash(d).collect()}
    ham12 = bin(sh[1] ^ sh[2]).count("1")
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham12 < ham13
    pairs = simhash_neardup(d, max_hamming=ham12).collect()
    assert (1, 2) in [(r["id_a"], r["id_b"]) for r in pairs]


def test_mega_bucket_cap_drops_and_counts(spark):
    """A planted mega-cluster (identical docs) must not expand O(n^2):
    buckets over max_bucket are dropped and the drop is observable."""
    from webx.dedup import dropped_bucket_metrics

    t = "the same boilerplate error page text repeated across a mega host cluster"
    n = 2000
    rows = [(i, t) for i in range(n)] + [
        (n, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (n + 1, "alpha beta gamma delta epsilon zeta eta theta iota kappa omicron"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_neardup(d, threshold=0.6, max_bucket=100).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # the mega-cluster is dropped wholesale; the small planted pair survives
    assert (n, n + 1) in got
    assert not any(a < n and b < n for a, b in got)
    m = dropped_bucket_metrics("minhash_lsh")
    # identical docs share every band: 16 bands -> 16 dropped mega-buckets
    assert m["dropped_buckets"] == 16
    assert m["dropped_ids"] == 16 * n


def test_simhash_mega_bucket_cap(spark):
    from webx.dedup import dropped_bucket_metrics

    t = "identical parked domain page body words here for every single host"
    rows = [(i, t) for i in range(500)]
    # two near-identical survivors so the final result is non-empty (see
    # the AQE caveat on dropped_bucket_metrics)
    base = " ".join(f"tok{i}" for i in range(40))
    rows += [(1000, base), (1001, base.replace("tok7", "tok7x"))]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_neardup(d, max_hamming=10, max_bucket=50).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1000, 1001) in got
    assert not any(a < 1000 and b < 1000 for a, b in got)
    m = dropped_bucket_metrics("simhash")
    assert m["dropped_buckets"] == 4  # all 4 chunks of one identical simhash
    assert m["dropped_ids"] == 4 * 500


def test_drop_metrics_empty_result_raises_clear_error(spark):
    """All buckets over-cap + empty result: AQE prunes the CollectMetrics
    node; the accessor must raise the documented error, not fake zeros."""
    import pytest

    from webx.dedup import dropped_bucket_metrics

    t = "identical parked domain page body words here for every single host"
    d = spark.createDataFrame([(i, t) for i in range(200)], "doc_id long, text string")
    pairs = simhash_neardup(d, max_hamming=3, max_bucket=50).collect()
    assert pairs == []
    with pytest.raises(RuntimeError, match="AQE"):
        dropped_bucket_metrics("simhash")


def test_lsh_candidates_superset_of_identical(spark):
    t = "one two three four five six seven eight nine ten eleven twelve"
    d = docs_df(spark, [(1, t), (2, t)])
    sigs = minhash_signatures(d)
    pairs = lsh_candidate_pairs(sigs).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((20, 8)).astype(np.float32)
    df = emb_df(spark, vecs)
    queries = df.filter(F.col("vec_id") < 3)
    out = cosine_topk(df, queries, k=4).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cos"]))
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    for q in range(3):
        cos = (v @ v[q]) / (norms * norms[q])
        cos[q] = -np.inf
        expect = sorted(range(20), key=lambda i: (-cos[i], i))[:4]
        assert [n for _, n, _ in sorted(got[q])] == expect
        for rank, n, c in got[q]:
            assert math.isclose(c, cos[n], rel_tol=1e-5)


def test_lsh_topk_self_bucket_recall(spark):
    """A query's near-identical twin lands in the same bucket -> found."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    vecs[1] = vecs[0] + 1e-4  # planted near-dup of vec 0
    df = emb_df(spark, vecs)
    queries = df.filter(F.col("vec_id") == 0)
    out = lsh_topk(df, queries, dim=8, k=3).collect()
    assert out and out[0]["neighbor_id"] == 1 and out[0]["rank"] == 1


def test_hyperplanes_deterministic():
    assert hyperplanes(8, 4, seed=1) == hyperplanes(8, 4, seed=1)
    assert hyperplanes(8, 4, seed=1) != hyperplanes(8, 4, seed=2)


def test_textstats(spark):
    d = docs_df(spark, [(1, "The cat, the hat!  "), (2, "uno dos tres")])
    tc = {r["doc_id"]: r["n_tokens"] for r in token_count(d).collect()}
    assert tc == {1: 4, 2: 3}
    q = {r["doc_id"]: r for r in quality_score(d).collect()}
    assert q[1]["n_stopwords"] == 2  # 'The', 'the'
    assert q[1]["n_punct"] == 2  # ',' and '!'
    langs = {r["doc_id"]: r["pred_lang"] for r in lang_id(d).collect()}
    assert langs == {1: "en", 2: "und"}
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(d).collect()}
    d2 = docs_df(spark, [(1, "the  CAT, the HAT!")])
    fp2 = fingerprint(d2).collect()[0]["fp"]
    assert fps[1] == fp2  # case + whitespace insensitive


def test_ivf_topk_recall(spark):
    """IVF probe finds the planted twin; recall vs brute force is high."""
    from webx.similarity import ivf_topk

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((60, 8)).astype(np.float32)
    vecs[1] = vecs[0] + 1e-4  # planted twin of vec 0
    df = emb_df(spark, vecs)
    queries = df.filter(F.col("vec_id") < 4)
    got = ivf_topk(df, queries, k=3, n_centroids=4, n_probe=2)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert sorted(by_q[0])[0][1] == 1  # twin is rank 1
    # per-query: ranks are 1..n without gaps, neighbors unique
    for q, lst in by_q.items():
        ranks = sorted(r for r, _ in lst)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len({n for _, n in lst}) == len(lst)
    # recall vs exact top-3 across the 4 queries >= 50% (probing half the lists)
    exact = cosine_topk(df, queries, k=3).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    got_set = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(got_set & exact_set) / len(exact_set) >= 0.5


def test_langid_multilang(spark):
    d = docs_df(spark, [
        (1, "the cat is on the mat and it is happy"),
        (2, "der Hund ist nicht mit der Katze und so"),
        (3, "le chat est dans les maisons pour que tu"),
        (4, "los gatos y el perro es una cosa para ti"),
        (5, "zzz qqq www"),
    ])
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(d).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_quality_filter_flags(spark):
    from webx.textstats import quality_filter

    good = " ".join(["the quick brown fox jumps over lazy dogs today also"] * 6)  # 60 toks
    short = "too short"
    symbols = " ".join(["# ## ### #tag"] * 20 + ["the of and is in to for on a an"] * 2)
    nostop = " ".join(f"zyx{i}" for i in range(60))
    d = docs_df(spark, [(1, good), (2, short), (3, symbols), (4, nostop)])
    got = {r["doc_id"]: r for r in quality_filter(d).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False and got[2]["ok_len"] is False
    assert got[3]["keep"] is False and got[3]["ok_sym"] is False
    assert got[4]["keep"] is False and got[4]["ok_stop"] is False
    assert got[1]["n_tokens"] == 60


def test_token_count_bpe(spark):
    from webx.textstats import token_count_bpe

    d = docs_df(spark, [(1, "don't stop! it's 42 words-ish."), (2, "")])
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in token_count_bpe(d).collect()}
    # don | 't | stop | ! | it | 's | 42 | words | - | ish | .
    assert got[1] == 11
    assert got[2] == 0


def test_url_ops(spark):
    from webx.urls import host, normalize_url, path_depth, tld

    d = spark.createDataFrame(
        [
            (1, "HTTP://User@WWW.Example.COM:80/A/B?q=1#frag"),
            (2, "https://example.org:443/"),
            (3, "https://sub.example.co:8080/x//y/"),
            (4, "not-a-url"),
        ],
        "i long, url string",
    )
    out = {
        r["i"]: r
        for r in d.select(
            "i",
            normalize_url("url").alias("n"),
            host("url").alias("h"),
            path_depth("url").alias("d"),
            tld("url").alias("t"),
        ).collect()
    }
    assert out[1]["n"] == "http://user@www.example.com/A/B?q=1"
    assert out[1]["h"] == "www.example.com" and out[1]["d"] == 2 and out[1]["t"] == "com"
    assert out[2]["n"] == "https://example.org"
    assert out[2]["d"] == 0 and out[2]["t"] == "org"
    assert out[3]["n"] == "https://sub.example.co:8080/x//y/"  # non-default port kept
    assert out[3]["h"] == "sub.example.co" and out[3]["d"] == 2
    assert out[4]["n"] == "not-a-url"  # non-url passthrough


def test_repetition_stats(spark):
    from webx.textstats import repetition_stats

    d = docs_df(spark, [
        (1, "unique one\nunique two\nunique one"),        # 1 dup line of 3
        (2, "spam spam spam spam spam spam"),             # one bigram dominates
        (3, "plain regular text with no repeats at all"),
        (4, ""),
    ])
    got = {r["doc_id"]: r for r in repetition_stats(d).collect()}
    assert got[1]["n_lines"] == 3 and abs(got[1]["dup_line_frac"] - 1/3) < 1e-9
    # doc2: 5 bigrams all "spam spam" -> top=5, frac = 2*5/6
    assert abs(got[2]["top_bigram_frac"] - 10/6) < 1e-9 or got[2]["top_bigram_frac"] <= 2.0
    assert got[3]["dup_line_frac"] == 0.0
    assert got[3]["top_bigram_frac"] < 0.5
    assert got[4]["n_lines"] == 0 and got[4]["top_bigram_frac"] == 0.0


def test_tfidf_topk_ranks_distinctive_terms(spark):
    from webx.textstats import tfidf_topk

    d = docs_df(
        spark,
        [
            (1, "common common zebra zebra zebra"),
            (2, "common words words"),
            (3, "common quartz"),
        ],
    )
    out = [r for r in tfidf_topk(d, k=2).collect() if r["doc_id"] == 1]
    out.sort(key=lambda r: r["rank"])
    # 'zebra' (tf=3, df=1) outranks 'common' (tf=2, df=3)
    assert out[0]["term"] == "zebra" and out[0]["tf"] == 3 and out[0]["df"] == 1
    assert out[1]["term"] == "common" and out[1]["df"] == 3
    assert out[0]["score"] > out[1]["score"]


def test_dedup_clusters_components(spark):
    from webx.dedup import dedup_clusters, keep_list

    # chain 1-2-3-4-5 (diameter 4: needs multiple propagation rounds),
    # separate pair (10, 11), and 20-21-22 via a star on 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20, 21, 22, 99]], "doc_id long")
    keep = {r["doc_id"]: r["keep"] for r in keep_list(docs, pairs).collect()}
    survivors = {d for d, k in keep.items() if k}
    assert survivors == {1, 10, 20, 99}  # min of each cluster + untouched doc


def test_dedup_clusters_long_chain_converges(spark):
    """A 30-node path graph is one component: label propagation runs
    until no label changes (29 rounds to carry node 0's label to the far
    end), never stopping early with partial labels."""
    from webx.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30, 59)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {i: 30 for i in range(30, 60)}


def test_dedup_clusters_components_without_count(spark, monkeypatch):
    """The convergence test and the broadcast gate read their counts from
    the checkpoint's observation: with ``DataFrame.count`` unusable,
    dedup_clusters, keep_list and keep_best still give the components of
    test_dedup_clusters_components."""
    from pyspark.sql.classic.dataframe import DataFrame

    from webx.dedup import dedup_clusters, keep_best, keep_list

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    docs = spark.createDataFrame(
        [(i, 1.0) for i in [1, 2, 3, 4, 5, 10, 11, 20, 21, 22, 99]],
        "doc_id long, score double",
    )

    def no_count(self):
        raise AssertionError("DataFrame.count called")

    monkeypatch.setattr(DataFrame, "count", no_count)
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    for op in (keep_list, keep_best):
        survivors = {r["doc_id"] for r in op(docs, pairs).collect() if r["keep"]}
        assert survivors == {1, 10, 20, 99}, op.__name__


def test_duplicate_spans_hand_case(spark):
    from webx.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share the 6-token run "a b c d e f" -> with
            # k=3, positions 1..4 of each are duplicated, one span each
            (1, "a b c d e f unique1 tail1 xx"),
            (2, "start2 a b c d e f other2 yy"),
            # doc 3: no 3-gram shared with anyone
            (3, "p q r s t u v"),
            # doc 4: internal repeat "m n o ... m n o" duplicates itself
            (4, "m n o gap1 gap2 m n o"),
            (5, "tiny doc"),  # < k tokens
            (6, None),  # NULL text reads as "": no windows
            # upper-cased copy of the shared run: tokens are lowercased,
            # so all 4 windows are duplicates of docs 1 and 2
            (7, "A B C D E F"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in duplicate_spans(docs, k=3).collect()}
    assert got[1]["n_grams"] == 7 and got[1]["n_dup_grams"] == 4
    assert got[1]["n_dup_spans"] == 1
    assert got[2]["n_dup_grams"] == 4 and got[2]["n_dup_spans"] == 1
    assert got[3]["n_dup_grams"] == 0 and got[3]["n_dup_spans"] == 0
    assert got[4]["n_dup_grams"] == 2 and got[4]["n_dup_spans"] == 2
    assert got[5]["n_grams"] == 0 and got[5]["n_dup_spans"] == 0
    assert tuple(got[6])[1:] == (0, 0, 0)
    assert tuple(got[7])[1:] == (4, 4, 1)


def test_duplicate_spans_hashed_matches_string_variant(spark):
    from webx.dedup import duplicate_spans
    from webx import synth

    docs = synth.load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    a = duplicate_spans(docs, k=3, hashed=False).orderBy("doc_id").collect()
    b = duplicate_spans(docs, k=3, hashed=True).orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_remove_duplicate_spans_keep_first(spark):
    from webx.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e unique1 end1"),   # first occurrence of "a b c"... survives whole
            (2, "start2 a b c d e end2"),    # later occurrence of the shared run: removed
            (3, "solo x y z w"),             # untouched
            (4, "t"),                        # < k tokens
            (5, ""),                         # empty
            (6, None),                       # NULL reads as empty
            (7, "A B C D E tail7"),          # lowercased: a third occurrence
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicate_spans(docs, k=3).collect()}
    assert got[1]["text"] == "a b c d e unique1 end1" and got[1]["n_removed"] == 0
    # doc 2: windows (a b c), (b c d), (c d e) are rank-2 -> tokens a..e removed
    assert got[2]["text"] == "start2 end2" and got[2]["n_removed"] == 5
    assert got[3]["text"] == "solo x y z w" and got[3]["n_removed"] == 0
    assert got[4]["text"] == "t" and got[4]["n_tokens"] == 1
    assert got[5]["text"] == "" and got[5]["n_tokens"] == 0
    assert tuple(got[6])[1:] == ("", 0, 0)
    assert got[7]["text"] == "tail7" and got[7]["n_removed"] == 5


def test_remove_duplicate_spans_intra_doc_repeat(spark):
    from webx.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "m n o gap m n o")],  # the second "m n o" is the later occurrence
        "doc_id long, text string",
    )
    row = remove_duplicate_spans(docs, k=3).collect()[0]
    assert row["text"] == "m n o gap" and row["n_removed"] == 3


def test_nfc_normalize_decomposed_and_fast_path(spark):
    from webx.textstats import nfc_normalize

    rows = [
        (1, "plain ascii"),
        (2, "café"),          # decomposed
        (3, "café"),           # already NFC
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in nfc_normalize(df).collect()}
    assert out[1]["text_nfc"] == "plain ascii" and out[1]["nfc_changed"] == 0
    assert out[2]["text_nfc"] == "café" and out[2]["nfc_changed"] == 1
    assert out[3]["text_nfc"] == "café" and out[3]["nfc_changed"] == 0
    assert out[4]["text_nfc"] is None


def test_dedup_against_drops_prior_content_only(spark):
    from webx.dedup import dedup_against

    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "beta")],
        "doc_id long, text string",
    )
    prior = spark.createDataFrame([(99, "beta"), (98, "delta")], "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup_against(new, prior).collect())
    assert kept == [1, 3]  # both beta copies dropped, delta irrelevant


def test_dedup_against_broadcast_path_same_result(spark):
    from webx.dedup import dedup_against

    new = spark.range(200).selectExpr("id AS doc_id", "concat('t', id % 50) AS text")
    prior = spark.range(25).selectExpr("id AS doc_id", "concat('t', id) AS text")
    a = sorted(r["doc_id"] for r in dedup_against(new, prior).collect())
    b = sorted(
        r["doc_id"] for r in dedup_against(new, prior, broadcast_prior=True).collect()
    )
    assert a == b and len(a) == 100  # ids with id%50 >= 25


def test_budget_allocation_sums_exactly_to_budget(spark):
    import __spark_entry__ as E

    out = E.q_budget_allocation(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert sum(r["slots"] for r in rows) == 1000
    # proportionality: every host within 1 slot of its exact share
    total = sum(r["n_pending"] for r in rows)
    for r in rows:
        exact = r["n_pending"] * 1000 / total
        assert abs(r["slots"] - exact) < 1


def test_registrable_domain(spark):
    """eTLD+1 grouping: two-label PSL suffixes take three labels,
    three-label suffixes take four, everything else two; single-label
    hosts and bare suffixes group as themselves."""
    from webx.urls import registrable_domain

    cases = [
        ("https://news0.bbc.co.uk/x", "bbc.co.uk"),
        ("https://a.b.deep.bbc.co.uk/x", "bbc.co.uk"),
        ("https://sub.example.com/x", "example.com"),
        ("https://example.com/x", "example.com"),
        ("https://alice.github.io/x", "alice.github.io"),
        ("https://shop.example.com.au/x", "example.com.au"),
        ("http://localhost/x", "localhost"),
        ("https://co.uk/", "co.uk"),  # bare suffix host: itself
        ("HTTPS://Sub.EXAMPLE.Com:8080/x", "example.com"),  # case+port
        # 3-label private-section suffix: each bucket is its own owner
        ("https://bucket-a.s3.amazonaws.com/k", "bucket-a.s3.amazonaws.com"),
        ("https://x.bucket-a.s3.amazonaws.com/k", "bucket-a.s3.amazonaws.com"),
        ("https://s3.amazonaws.com/bucket-a/k", "s3.amazonaws.com"),  # bare
        # not a 3-label suffix: plain eTLD+1 under amazonaws.com... which
        # IS what cloudfront.net-style 2-label private entries are for
        ("https://d111.cloudfront.net/x", "d111.cloudfront.net"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r[0]
        for r in df.select(registrable_domain("url")).collect()
    ]
    assert got == [want for _, want in cases]


def test_lang_id_paragraphs(spark):
    """Per-paragraph predictions segment a multilingual page; empty
    paragraphs predict 'und'; doc-level scoring is unchanged."""
    from webx.textstats import lang_id_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "the quick fox and the dog\nder hund ist nicht ein fuchs"),
            (2, "le chat est dans le jardin\n\nel perro es una mascota"),
            (3, "zzz qqq"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.para_idx): r.pred_lang
        for r in lang_id_paragraphs(docs).collect()
    }
    assert got == {
        (1, 0): "en", (1, 1): "de",
        (2, 0): "fr", (2, 1): "und", (2, 2): "es",
        (3, 0): "und",
    }


def test_idn_homograph_audit(spark):
    from webx.urls import idn_homograph_audit

    rows = [
        (0, "plain.example.com"),
        (1, "xn--pypal-4ve.com"),       # p + CYRILLIC a -> mixed spoof
        (2, "xn--h1ahn.com"),           # all-Cyrillic IDN -> NOT flagged
        (3, "xn--bcher-kva.com"),       # Latin diacritic -> NOT flagged
        (4, "xn--!!bad!!.com"),         # undecodable ACE -> kept, fail-soft
        (5, "sub.xn--h1ahn.example"),   # non-first label decodes too
    ]
    df = spark.createDataFrame(rows, "i int, host string")
    got = {
        r.i: (r.decoded_host, r.is_punycode, r.mixed_script)
        for r in idn_homograph_audit(df).collect()
    }
    assert got[0] == ("plain.example.com", False, False)
    assert got[1] == ("pаypal.com", True, True)
    assert got[2] == ("мир.com", True, False)
    assert got[3] == ("bücher.com", True, False)
    assert got[4] == ("xn--!!bad!!.com", True, False)
    assert got[5] == ("sub.мир.example", True, False)


def test_char_entropy_known_values(spark):
    import math

    from webx.textstats import char_entropy

    rows = [
        (0, "abca"),      # H = 1.5 exactly
        (1, "aaaa"),      # single symbol -> 0
        (2, ""),          # empty -> 0 (guard, not -inf)
        (3, None),        # null -> 0
        (4, "ααββ"),      # multi-byte chars count as chars: H = 1
        (5, "abcdefgh"),  # uniform 8 symbols -> 3 bits
    ]
    df = spark.createDataFrame(rows, "i int, text string")
    got = {r.i: r.e for r in df.select("i", char_entropy("text").alias("e")).collect()}
    assert got[0] == 1.5
    assert got[1] == 0.0 and got[2] == 0.0 and got[3] == 0.0
    assert got[4] == 1.0
    assert got[5] == 3.0
    # prefix bound: entropy of the first k chars only
    long = spark.createDataFrame([(0, "ab" * 4096)], "i int, text string")
    assert long.select(char_entropy("text", prefix_chars=4).alias("e")).first().e == 1.0
