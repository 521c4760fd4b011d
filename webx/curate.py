"""Corpus-curation operators a crawl→training-data pipeline needs beyond
dedup: test-set decontamination, per-host volume caps, and sequence
packing. pyspark.sql throughout (codegen; the word grams are cut by the
Arrow-batched ``word_ngrams`` kernel and the one grouped walk is an
applyInPandas) — no driver-side loops.

Scale shapes:
* decontamination — the benchmark side is small by definition (eval
  sets are thousands of docs); its distinct n-gram set broadcasts, the
  corpus side is one narrow explode + broadcast semi-join (no shuffle
  of the corpus).
* host caps — one shuffle on host (the skew axis the cap exists for);
  ranking window is partial-agg-free but bounded per host by the cap's
  own purpose.
* packing — greedy walks are inherently sequential, so the op packs
  WITHIN a declared group key (lang / shard), groups processed
  independently in parallel — the formulation that holds at 10^12 docs
  (a single global greedy walk would not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from webx.dedup import word_ngrams
from webx.textstats import WS_SPLIT


def _word_ngram_hashes(grams: DataFrame) -> DataFrame:
    """``grams`` with each gram string replaced by its 64-bit xxhash64,
    computed JVM-side from the strings ``word_ngrams`` built, so the
    match set equals the string variant's up to 2^-64-scale collisions
    while the join/broadcast keys shrink from ~100-byte strings to 8-byte
    longs. (A Catalyst fold over the n per-token hashes, which avoids
    building the strings, was A/B'd and LOST at n=13: like the Catalyst
    string builder of that time, it built each gram inside a lambda whose
    cost per gram grows with the document's token count; see PLANS.md.)"""
    return grams.withColumn("grams", F.transform("grams", lambda g: F.xxhash64(g)))


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    doc_text: str = "text",
    bench_text: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Test-set decontamination: doc_ids whose text contains ANY word
    n-gram of the benchmark set (the GPT-3/Gopher 13-gram overlap
    filter). Returns (doc_id) distinct.

    Plan: benchmark n-grams → distinct (small — eval sets) → broadcast
    semi-join against the exploded corpus n-grams. The corpus is read
    once, never shuffled; the explode is narrow and the semi-join
    short-circuits per match.

    ``hashed=True`` is the 100 TB formulation: both sides match on the
    64-bit xxhash64 of the gram instead of the ~100-byte gram string —
    the exploded corpus rows, the broadcast table and the join compares
    all shrink to one long per gram. Same answer up to 2^-64-scale hash
    collisions (differentially tested against the string variant); the
    oracle-gated driver query uses the exact string form."""

    def ngrams(df: DataFrame, text_col: str, keep: tuple) -> DataFrame:
        grams = word_ngrams(df, n, text_col, lower=True, keep=keep)
        if hashed:
            grams = _word_ngram_hashes(grams)
        return grams.select(*keep, F.explode("grams").alias("ng"))

    bench_sh = ngrams(benchmark, bench_text, ()).distinct()
    doc_sh = ngrams(docs, doc_text, ("doc_id",))
    return (
        doc_sh.join(F.broadcast(bench_sh), "ng", "left_semi")
        .select("doc_id")
        .distinct()
    )


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the CCNet/C4 move):
    split each document on ``sep``, keep only the FIRST occurrence of
    every distinct paragraph — ordered by (doc_id, position) — and
    reassemble each document from its surviving paragraphs in original
    order. Returns (doc_id, text, n_paragraphs, n_kept).

    Plan: posexplode → one window over the paragraph hash (the single
    shuffle, on the dedup key) → filter rank 1 → re-aggregate with a
    position-sorted collect. Paragraphs shorter than ``min_chars`` are
    kept unconditionally (whitespace/structure carries no dedup
    signal and would cross-link unrelated documents)."""
    import re as _re

    parts = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias("pos", "para"),
    )
    w = Window.partitionBy("para").orderBy("doc_id", "pos")
    ranked = parts.withColumn(
        "_rk",
        F.when(F.length("para") < min_chars, F.lit(1)).otherwise(
            F.row_number().over(w)
        ),
    )
    kept = ranked.filter(F.col("_rk") == 1)
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    totals = parts.groupBy("doc_id").agg(F.count("*").alias("n_paragraphs"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        "n_paragraphs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


def strip_host_boilerplate(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 5,
    min_chars: int = 1,
) -> DataFrame:
    """Host-scoped template-paragraph removal — the boilerplate pass
    CCNet runs per *site*: a paragraph that appears in ≥ ``min_docs``
    distinct documents of the SAME host is that host's chrome
    ("Subscribe to our newsletter", cookie banners, footers the HTML
    extractor can't see because the site renders them as content) and
    is removed from every document of the host. Cross-host repeats are
    untouched — a quote going viral is signal, a site template is not.
    Returns (doc_id, host, text, n_paragraphs, n_removed).

    Plan: one explode, an aggregate to the (host, paragraph,
    distinct-doc-count) table, then a join back on the SAME (host,
    paragraph) key — both sides hash-partition identically so the join
    reuses the aggregate's exchange. Deliberately NOT a window with
    ``collect_set(doc_id)``: a mega-host's true boilerplate paragraph
    would carry millions of doc_ids per row. The aggregate keeps state
    O(1) per (host, paragraph) at any corpus size. Paragraphs shorter
    than ``min_chars`` never count as boilerplate (structure, not
    template signal)."""
    parts = docs.select(
        "doc_id",
        host_col,
        F.posexplode(F.split(F.col(text_col), _re_escape(sep))).alias(
            "pos", "para"
        ),
    )
    counts = (
        parts.filter(F.length("para") >= min_chars)
        .groupBy(host_col, "para")
        .agg(F.countDistinct("doc_id").alias("_nd"))
    )
    boiler = counts.filter(F.col("_nd") >= min_docs).drop("_nd")
    kept = parts.join(boiler, [host_col, "para"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text"),
        F.count("*").alias("_n_kept"),
    )
    totals = parts.groupBy("doc_id", host_col).agg(
        F.count("*").alias("n_paragraphs")
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        host_col,
        F.coalesce("text", F.lit("")).alias("text"),
        "n_paragraphs",
        (F.col("n_paragraphs") - F.coalesce("_n_kept", F.lit(0))).alias(
            "n_removed"
        ),
    )


def _re_escape(s: str) -> str:
    import re

    return re.escape(s)


def cap_per_host(
    docs: DataFrame,
    host_col: str = "host",
    max_per_host: int = 100,
    order_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``max_per_host`` documents per host, deterministic
    preference order (``order_col`` ascending) — the crawl-curation cap
    that stops mega-hosts from dominating the corpus. Rank-filter pushes
    into the window sort (one shuffle on host, top-k per group)."""
    w = Window.partitionBy(host_col).orderBy(F.col(order_col).asc())
    return (
        docs.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= max_per_host)
        .drop("_rank")
    )


def _word_ngrams_all(col: str, n: int, lower: bool = True):
    """Word n-grams WITH multiplicity (no distinct — these feed count
    features); documents shorter than n words contribute none."""
    toks = F.split(F.trim(F.col(col)), WS_SPLIT)
    if lower:
        toks = F.transform(toks, lambda t: F.lower(t))
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    win = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.when(cnt >= n, win).otherwise(F.array().cast("array<string>"))


def importance_weights(
    docs: DataFrame,
    target: DataFrame,
    buckets: int = 10_000,
    text_col: str = "text",
    target_text: str = "text",
    smoothing: float = 1.0,
) -> DataFrame:
    """Hashed n-gram importance weights for data selection (the DSIR
    method, Xie et al. 2023): represent every document as hashed
    uni+bigram counts over ``buckets`` buckets, fit target (p) and raw
    (q) bucket distributions, and score each document by its log
    importance ratio Σ_g [log p(b(g)) − log q(b(g))].

    Returns (doc_id, n_grams, t_mass, r_mass, log_weight):
    ``t_mass``/``r_mass`` are the exact integer sums of target/raw
    bucket counts hit by the doc's grams (the oracle-checkable core —
    floating log sums are engine-order-dependent, integers are not);
    ``log_weight`` is the smoothed DSIR score.

    Plan: one gram explode per side → bucket via ``pmod(xxhash64(g),
    buckets)`` → two ≤buckets-row count tables, broadcast back onto the
    per-(doc, bucket) counts → per-doc sum. The corpus shuffles once, on
    (doc_id, bucket)."""
    import math

    gram = F.explode(
        F.concat(_word_ngrams_all(text_col, 1), _word_ngrams_all(text_col, 2))
    )
    b = F.pmod(F.xxhash64("gram"), F.lit(buckets)).alias("b")
    # the (doc, bucket) frame feeds two consumers (per-doc counts and the
    # raw bucket distribution) — persist so the gram explode runs ONCE;
    # persist (not localCheckpoint) keeps lineage, so a lost executor
    # recomputes its blocks instead of failing the job
    doc_b = (
        docs.select("doc_id", gram.alias("gram")).select("doc_id", b).persist()
    )
    per = doc_b.groupBy("doc_id", "b").agg(F.count("*").alias("m"))

    tgt_gram = F.explode(
        F.concat(_word_ngrams_all(target_text, 1), _word_ngrams_all(target_text, 2))
    )
    tgt_b = target.select(tgt_gram.alias("gram")).select(b)
    tgt_cnt = tgt_b.groupBy("b").agg(F.count("*").alias("ct"))
    raw_cnt = doc_b.groupBy("b").agg(F.count("*").alias("cr"))

    # totals from the <=buckets-row count tables — NOT extra corpus passes
    t_total = int(tgt_cnt.agg(F.coalesce(F.sum("ct"), F.lit(0))).first()[0])
    r_total = int(raw_cnt.agg(F.coalesce(F.sum("cr"), F.lit(0))).first()[0])
    s = smoothing
    norm = math.log(r_total + s * buckets) - math.log(t_total + s * buckets)

    joined = (
        per.join(F.broadcast(tgt_cnt), "b", "left")
        .join(F.broadcast(raw_cnt), "b")
        .select(
            "doc_id",
            "m",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            "cr",
        )
    )
    lr = F.log(F.col("ct") + F.lit(s)) - F.log(F.col("cr") + F.lit(s)) + F.lit(norm)
    return joined.groupBy("doc_id").agg(
        F.sum("m").alias("n_grams"),
        F.sum(F.col("m") * F.col("ct")).alias("t_mass"),
        F.sum(F.col("m") * F.col("cr")).alias("r_mass"),
        F.sum(F.col("m") * lr).alias("log_weight"),
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    group_col: str = "lang",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy sequence packing for training: walk each group's documents
    in ``order_col`` order, accumulate whitespace token counts, start a
    new bin whenever adding the next document would exceed
    ``max_tokens`` (an oversized document gets its own bin). Returns
    (group, doc_id, n_tokens, bin).

    Greedy packing is inherently sequential, so it runs per GROUP
    (applyInPandas, one Arrow batch per group, numpy walk) — groups pack
    independently in parallel. At crawl scale the group key is the
    shard/partition you want one training file per."""
    import numpy as np
    import pandas as pd

    toks = F.size(F.split(F.trim(F.col(text_col)), WS_SPLIT))
    base = docs.select(
        F.col(group_col).cast("string").alias("grp"),
        F.col(order_col).alias("doc_id"),
        toks.cast("int").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        nt = pdf["n_tokens"].to_numpy()
        bins = np.empty(len(nt), dtype=np.int64)
        b, acc = 0, 0
        for i, t in enumerate(nt.tolist()):
            if acc and acc + t > max_tokens:
                b += 1
                acc = 0
            acc += t
            bins[i] = b
        pdf["bin"] = bins
        return pdf

    return base.groupBy("grp").applyInPandas(
        pack, schema="grp string, doc_id long, n_tokens int, bin long"
    )


def lm_perplexity(
    docs: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    train_text: str = "text",
    min_count: int = 1,
    broadcast_model: bool = True,
) -> DataFrame:
    """LM-based quality scoring (the CCNet move, Wenzek et al. 2020:
    score every document by the perplexity of a language model trained
    on a clean reference corpus, and filter/bucket on it). The reference
    pipeline uses a KenLM 5-gram; here the model is an add-one-smoothed
    BIGRAM LM fit distributively on ``train`` — the same shape at any
    order, and a bigram keeps the model table broadcastable.

    P(w | prev) = (C2(prev, w) + 1) / (C1(prev) + V), with C1(prev) =
    Σ_w C2(prev, w) (occurrences of ``prev`` as a context), V = distinct
    train tokens + 1 (the OOV class). Unseen context ⇒ uniform 1/V.

    Returns one row per input document:
    (doc_id, n_bigrams, bg_mass, ctx_mass, logprob, ppl) where
    ``bg_mass``/``ctx_mass`` are the exact integer sums of matched
    bigram/context counts (the engine-order-independent oracle core,
    like importance_weights) and ``logprob`` = Σ log P, ``ppl`` =
    exp(−logprob / n_bigrams) (null for docs with < 2 tokens).

    Scale shape: the model is two count tables over the TRAIN corpus
    (clean reference data — small by construction, like the
    decontamination benchmark side); with ``broadcast_model`` they
    broadcast and the corpus side is one narrow explode + map-side join
    + per-doc partial agg — the corpus shuffles once, on doc_id. Set
    ``broadcast_model=False`` when training on a corpus-sized frame
    (shuffle join on the bigram key). ``min_count`` prunes rare model
    bigrams (KenLM's pruning knob): pruned grams score as unseen."""

    def _bigrams(col: str):
        toks = F.transform(F.split(F.trim(F.col(col)), WS_SPLIT), lambda t: F.lower(t))
        cnt = F.size(toks)
        idx = F.sequence(F.lit(1), cnt - 1)
        return F.when(
            cnt >= 2,
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("prev"),
                    F.element_at(toks, i + 1).alias("w"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<prev:string,w:string>>"))

    tr_bg = train.select(F.explode(_bigrams(train_text)).alias("p")).select(
        "p.prev", "p.w"
    )
    c2 = tr_bg.groupBy("prev", "w").agg(F.count("*").alias("c2"))
    if min_count > 1:
        c2 = c2.filter(F.col("c2") >= min_count)
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    # V from the count table's driver-side fold, not an extra corpus pass
    toks_expr = F.transform(
        F.split(F.trim(F.col(train_text)), WS_SPLIT), lambda t: F.lower(t)
    )
    v = (
        train.select(F.explode(toks_expr).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
        .first()[0]
        or 0
    ) + 1  # +1: the OOV class

    if broadcast_model:
        c2, c1 = F.broadcast(c2), F.broadcast(c1)

    per = (
        docs.select("doc_id", F.explode(_bigrams(text_col)).alias("p"))
        .select("doc_id", "p.prev", "p.w")
        .groupBy("doc_id", "prev", "w")
        .agg(F.count("*").alias("m"))
    )
    j = (
        per.join(c2, ["prev", "w"], "left")
        .join(c1, ["prev"], "left")
        .select(
            "doc_id",
            "m",
            F.coalesce("c2", F.lit(0)).alias("c2"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
        )
    )
    lp = F.log(F.col("c2") + F.lit(1.0)) - F.log(F.col("c1") + F.lit(float(v)))
    agg = j.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        F.sum(F.col("m") * F.col("c2")).alias("bg_mass"),
        F.sum(F.col("m") * F.col("c1")).alias("ctx_mass"),
        F.sum(F.col("m") * lp).alias("logprob"),
    )
    out = docs.select("doc_id").join(agg, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("bg_mass", F.lit(0)).alias("bg_mass"),
        F.coalesce("ctx_mass", F.lit(0)).alias("ctx_mass"),
        F.col("logprob"),
        F.exp(-F.col("logprob") / F.col("n_bigrams")).alias("ppl"),
    )


def c4_cols(
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_lines: int = 3,
) -> dict:
    """The C4 cleaning rules as named column expressions (text, n_lines,
    n_kept, keep): ``c4_clean`` selects them, and a cascade cleans its
    own frame in place with ``docs.filter(c["keep"]).withColumn("text",
    c["text"])``; ``keep`` reads the uncleaned text, so filter first."""
    lines = F.transform(
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"), F.trim
    )
    is_kept = lambda ln: (
        ln.endswith(".") | ln.endswith("!") | ln.endswith("?") | ln.endswith('"')
    ) & (F.size(F.split(ln, WS_SPLIT)) >= min_words_per_line)
    kept = F.filter(lines, is_kept)
    n_kept = F.size(kept)
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    keep = (
        (n_kept >= min_lines)
        & ~low.contains("lorem ipsum")
        & ~low.contains("{")
    )
    return {
        "text": F.array_join(kept, "\n"),
        "n_lines": F.size(lines),
        "n_kept": n_kept,
        "keep": keep,
    }


def c4_clean(docs: DataFrame, **rules) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2) as one pure-codegen
    transform: keep only lines that end in a terminal punctuation mark
    (. ! ? ") AND contain at least ``min_words_per_line`` words; flag the
    page for removal when fewer than ``min_lines`` lines survive, or the
    page contains '{' (code) or the phrase 'lorem ipsum' (placeholder
    boilerplate). Returns (doc_id, text, n_lines, n_kept, keep) with
    ``text`` rebuilt from the surviving lines in original order; the
    rules are ``c4_cols``' keyword arguments.

    No shuffle, no Python: split → list filter → rejoin, one row in, one
    row out — the shape that streams at any corpus size. (C4's remaining
    rule, corpus-wide three-sentence-span dedup, is the separate
    ``paragraph_dedup`` operator — it is the only rule needing a
    shuffle.)"""
    cols = c4_cols(**rules)
    return docs.select("doc_id", *(c.alias(n) for n, c in cols.items()))


def chunk_windows(
    docs: DataFrame,
    window: int = 128,
    stride: int = 96,
    col: str = "text",
) -> DataFrame:
    """Sliding-window chunking of long documents into training/embedding
    contexts: whitespace tokens cut into windows of ``window`` tokens
    every ``stride`` tokens (overlap = window - stride), the standard
    long-document preparation for context-bounded models. The start
    grid is 0, stride, 2*stride, …, ceil(max(n-window,0)/stride)*stride
    — every token is covered, the final chunk may be shorter, documents
    with no tokens yield no chunks. → (doc_id, chunk_idx, n_chunk_tokens,
    chunk).

    All-window arithmetic is integer and the token slicing clamps the
    same way in Spark and DuckDB, so the result is engine-exact. Plan:
    one narrow projection + explode — no shuffle; the fan-out is
    bounded by ~n/stride chunks per document."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col(col), F.lit(""))), WS_SPLIT),
        lambda t: t != F.lit(""),
    )
    n = F.size(toks)
    n_starts = (
        F.floor(
            (F.greatest(n - window, F.lit(0)) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("int")
        + 1
    )
    chunks = F.when(n <= 0, F.array().cast("array<array<string>>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_starts - 1),
            lambda i: F.slice(toks, i * stride + 1, window),
        )
    )
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "ctoks")
    ).select(
        "doc_id",
        "chunk_idx",
        F.size("ctoks").alias("n_chunk_tokens"),
        F.array_join("ctoks", " ").alias("chunk"),
    )
