"""Text-analysis operators over a document table — all built-in
``pyspark.sql.functions`` (JVM-side, whole-stage codegen; zero Python in
the hot path). These are the training-data-pipeline companions to the
extractor: token counting, quality scoring, language-ID heuristics,
document fingerprinting.

The formulas are frozen so a SQL oracle can recompute them exactly
(see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

WS_SPLIT = "[ \\t\\r\\n]+"
PUNCT_CLASS = "[.,!?;:]"
STOPWORDS = ("the", "a", "an", "and", "of", "in", "to", "is", "for", "on")

# per-language stopword tables for lang_id; priority order breaks ties
LANG_STOPWORDS = (
    ("en", STOPWORDS),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu")),
    ("fr", ("le", "les", "et", "est", "une", "des", "du", "pour", "que", "dans")),
    ("es", ("el", "los", "las", "y", "es", "una", "del", "para", "por", "como")),
)


def _tokens(col="text"):
    # null-safe: a NULL document yields zero tokens, not NULL stats
    return F.split(F.trim(F.coalesce(F.col(col), F.lit(""))), WS_SPLIT)


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) — whitespace tokenization."""
    return docs.select("doc_id", F.size(_tokens()).alias("n_tokens"))


# GPT-2-style pretokenizer, ASCII-restricted so Java regex (Spark) and
# RE2 (DuckDB oracle) agree byte-for-byte: contractions, letter runs,
# digit runs, single non-alnum non-space chars.
BPE_SPLIT = "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\r\\n]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens) — BPE-ish regex pretokenization count (the
    token-budget estimator for training-data pipelines)."""
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_SPLIT), 0)).alias("n_bpe_tokens"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Integer quality counters (ratios derive trivially; integers keep
    cross-engine comparisons exact): chars, tokens, stopwords, punctuation."""
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, F.lower(w)))).alias(
            "n_stopwords"
        ),
        (F.length("text") - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))).alias(
            "n_punct"
        ),
    )


def lang_pred(text_col) -> "F.Column":
    """Stopword-count language prediction over one text expression —
    shared by the document- and paragraph-level operators and by
    in-place language gates (``docs.filter(lang_pred(...).isin(...))``)
    so the scoring can never drift between them."""
    toks = F.transform(
        F.split(F.trim(F.coalesce(text_col, F.lit(""))), WS_SPLIT),
        lambda w: F.lower(w),
    )
    scores = {
        lang: F.size(
            F.filter(toks, lambda w: F.array_contains(F.array(*map(F.lit, sw)), w))
        )
        for lang, sw in LANG_STOPWORDS
    }
    best = F.greatest(*scores.values())
    pred = F.when(best < 1, F.lit("und"))
    for lang, _ in LANG_STOPWORDS:  # priority order on ties
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return pred


def lang_id(docs: DataFrame) -> DataFrame:
    """Deterministic multi-language stopword-count heuristic: the language
    with the most stopword hits wins (priority order breaks ties;
    zero hits → 'und').

    (A real model would be a broadcast n-gram table; the *operator shape* —
    pure column expressions, no shuffle, no Python — is what matters at
    scale.)
    """
    return docs.select("doc_id", lang_pred(F.col("text")).alias("pred_lang"))


def lang_id_paragraphs(docs: DataFrame, col: str = "text") -> DataFrame:
    """Paragraph-level language ID (the CCNet granularity): multilingual
    pages carry navigation in one language and content in another, so
    corpus language routing must segment BELOW the document. Splits on
    newline, predicts per paragraph with the same scoring as lang_id —
    one narrow explode, no shuffle; empty paragraphs predict 'und'."""
    paras = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.coalesce(F.col(col), F.lit("")), "\n")
        ).alias("para_idx", "para"),
    )
    return paras.select(
        "doc_id", "para_idx", lang_pred(F.col("para")).alias("pred_lang")
    )


def quality_cols(
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_stopword_frac: float = 0.03,
) -> dict:
    """The Gopher quality gate over ``text`` as named column expressions
    (n_tokens, mean_word_len, ok_len, ok_word, ok_sym, ok_stop, keep):
    ``quality_filter`` selects them, and a cascade gates its own frame
    in place with ``docs.filter(quality_cols(...)["keep"])`` instead of
    joining the flags back by doc_id."""
    toks = _tokens()
    n_tokens = F.size(toks)
    sum_word_len = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = sum_word_len / F.greatest(n_tokens, F.lit(1))
    n_symbols = F.size(
        F.filter(toks, lambda w: w.isin("#", "...", "…") | w.startswith("#"))
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, F.lower(w))))
    ok_len = (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
    ok_word = (mean_word_len >= min_mean_word_len) & (mean_word_len <= max_mean_word_len)
    ok_sym = (n_symbols / F.greatest(n_tokens, F.lit(1))) <= max_symbol_ratio
    ok_stop = (n_stop / F.greatest(n_tokens, F.lit(1))) >= min_stopword_frac
    return {
        "n_tokens": n_tokens,
        "mean_word_len": mean_word_len,
        "ok_len": ok_len,
        "ok_word": ok_word,
        "ok_sym": ok_sym,
        "ok_stop": ok_stop,
        "keep": ok_len & ok_word & ok_sym & ok_stop,
    }


def quality_filter(docs: DataFrame, **thresholds) -> DataFrame:
    """Gopher-style document quality gate (the published web-corpus
    heuristics: token-count bounds, mean-word-length band, symbol-to-token
    ratio, stopword fraction) as pure column expressions → one row per doc
    with each flag plus the final ``keep``.

    Integer/ratio formulas are frozen for the SQL oracle; the thresholds
    are ``quality_cols``' keyword arguments, explicit so goldens
    reproduce from config alone."""
    cols = quality_cols(**thresholds)
    return docs.select("doc_id", *(c.alias(n) for n, c in cols.items()))


def _lines():
    # the non-blank trimmed lines of ``text``
    return F.filter(
        F.transform(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"), F.trim),
        lambda ln: ln != "",
    )


def dup_line_frac():
    """Duplicate-line fraction of ``text`` (1 - distinct / non-blank
    lines; 0 without lines): row-local, so a gate on it filters in place."""
    lines = _lines()
    n_lines = F.size(lines)
    return F.when(
        n_lines > 0, 1.0 - F.size(F.array_distinct(lines)) / n_lines.cast("double")
    ).otherwise(0.0)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals: duplicate-line fraction and the
    fraction of tokens covered by the most frequent bigram — high values
    mark boilerplate/spam for corpus filtering.

    The heavy-hitter count is RELATIONAL, not a per-row O(n²) lambda:
    explode bigrams → two-phase count per (doc, bigram) → max per doc →
    join back. All codegen; scales to arbitrarily long documents. The
    duplicate-line fraction is row-local (``dup_line_frac``)."""
    toks = _tokens()
    n = F.size(toks)
    stats = docs.select(
        "doc_id",
        F.size(_lines()).alias("n_lines"),
        dup_line_frac().alias("dup_line_frac"),
        n.alias("n_toks"),
    )
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top = (
        docs.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bg"))
    )
    j = stats.join(top, "doc_id", "left")
    return j.select(
        "doc_id",
        "n_lines",
        "dup_line_frac",
        (
            F.when(
                F.col("n_toks") >= 2,
                2.0 * F.coalesce(F.col("top_bg"), F.lit(0)) / F.col("n_toks").cast("double"),
            ).otherwise(0.0)
        ).alias("top_bigram_frac"),
    )


def fingerprint_col():
    """md5 of the lower-cased whitespace-normalized ``text``: the
    exact-dedup key, usable in place (``Window.partitionBy``)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), WS_SPLIT, " "))
    return F.md5(F.encode(norm, "UTF-8"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — ``fingerprint_col``; the exact-dedup key and
    cross-run document identity."""
    return docs.select("doc_id", fingerprint_col().alias("fp"))


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k terms by tf-idf → (doc_id, rank, term, tf, df,
    score) with score = tf · (ln((N+1)/(df+1)) + 1) and deterministic
    ties (score desc, term asc). tf/df/rank are exact integers — the
    oracle-checkable core; the float score is derived from them.

    Plan: one token explode → per-(doc, term) counts (shuffle on the
    composite key) → document frequency as a second aggregate over the
    SAME exploded frame (terms shrink to the vocabulary before joining
    back) → ranking window per doc. At crawl scale the df table is
    vocabulary-sized and the join broadcast-eligible."""
    from pyspark.sql import Window

    n_docs = docs.count()
    terms = docs.select(
        "doc_id", F.explode(F.transform(_tokens(), lambda t: F.lower(t))).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "term").withColumn(
        "score",
        F.col("tf") * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


# Code-point ranges shared verbatim with the SQL oracle (literal BMP
# characters inside classes — the subset Java regex and RE2 read
# identically; no \p{script=…} syntax, which the two engines spell
# differently). Order matters: dominant-script ties resolve to the
# earliest entry.
SCRIPT_RANGES = [
    ("latin", "A-Za-zÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("arabic", "؀-ۿ"),
    ("cjk", "一-鿿぀-ヿ가-힯"),
]


def script_profile(docs: DataFrame, col: str = "text") -> DataFrame:
    """Per-document script composition: one ``n_<script>`` count per
    SCRIPT_RANGES class plus ``dominant_script`` (argmax, first-listed
    wins ties — so an all-zero row reads ``latin``).

    The script-routing signal of multilingual curation (per-script
    tokenizers, script-conditional quality gates). Pure codegen
    ``regexp_count`` projections — zero shuffle, fuses into any scan.
    """
    counts = [
        F.regexp_count(F.col(col), F.lit(f"[{rng}]")).cast("int").alias(f"n_{name}")
        for name, rng in SCRIPT_RANGES
    ]
    best_name = F.lit(SCRIPT_RANGES[0][0])
    best_cnt = counts[0]
    for (name, _), cnt in zip(SCRIPT_RANGES[1:], counts[1:]):
        best_name = F.when(cnt > best_cnt, F.lit(name)).otherwise(best_name)
        best_cnt = F.greatest(best_cnt, cnt)
    return docs.select("*", *counts, best_name.alias("dominant_script"))


SENT_BOUNDARY = "([.!?]+)[ \\t\\r\\n]+"
_SENT_SEP = "\x1e"  # U+001E record separator - never occurs in web text


def split_sentences(docs: DataFrame, col: str = "text") -> DataFrame:
    """Deterministic sentence segmentation: a boundary is a run of
    terminal punctuation followed by whitespace. Implemented as
    marker-insertion + split (``regexp_replace`` keeping the
    punctuation, then split on U+001E) — deliberately NOT a lookbehind,
    which RE2-based engines (and hence the DuckDB oracle) cannot run;
    the two-step form is expressible identically everywhere. One row
    per non-empty sentence with its 0-based ``sent_idx`` (``posexplode``
    keeps document order). Pure codegen until the explode; the explode
    is narrow (no shuffle)."""
    marked = F.regexp_replace(F.col(col), SENT_BOUNDARY, "$1" + _SENT_SEP)
    parts = F.split(marked, _SENT_SEP)
    keep = [c for c in docs.columns if c != col]
    return (
        docs.select(*keep, F.posexplode(parts).alias("sent_idx", "sentence"))
        .withColumn("sentence", F.trim("sentence"))
        .filter(F.col("sentence") != "")
    )


VOWEL_GROUP = "[aeiouyAEIOUY]+"


def readability(docs: DataFrame, col: str = "text") -> DataFrame:
    """Flesch-Kincaid reading-ease signal from three integer counters
    (repo policy: integers cross engines exactly; the float grade is
    derived with a fixed op order and floored to 2 decimals so IEEE
    doubles agree bit-for-bit between Spark and the SQL oracle):

    * ``n_words`` — whitespace tokens,
    * ``n_sentences`` — terminal-punctuation runs, min 1 (a fragment
      is one sentence),
    * ``n_syllables`` — vowel-group runs, the classic cheap proxy.

    ``fk_ease_x100`` = floor(100 × (206.835 − 1.015·W/S − 84.6·Y/W));
    NULL for empty documents. All codegen, zero shuffle — at 100 TB
    this fuses into whatever stage already scans ``text``."""
    toks = F.split(F.trim(F.col(col)), WS_SPLIT)
    n_words = F.when(F.trim(F.col(col)) == "", F.lit(0)).otherwise(
        F.size(toks)
    )
    n_sent = F.greatest(
        F.regexp_count(F.col(col), F.lit("[.!?]+")), F.lit(1)
    )
    n_syll = F.regexp_count(F.col(col), F.lit(VOWEL_GROUP))
    w = n_words.cast("double")
    ease = (
        F.lit(206.835)
        - F.lit(1.015) * (w / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / w)
    )
    return docs.select(
        "*",
        n_words.cast("int").alias("n_words"),
        n_sent.cast("int").alias("n_sentences"),
        n_syll.cast("int").alias("n_syllables"),
        F.when(n_words > 0, F.floor(ease * 100).cast("bigint"))
        .alias("fk_ease_x100"),
    )


SOFT404_RE = (
    "(?i)(page not found|not be found|does not exist|"
    "no longer available|error 404|404 error)"
)


def soft404_flags(docs: DataFrame, col: str = "text") -> DataFrame:
    """Soft-404 detection: pages served with HTTP 200 whose *content*
    is an error page — a top filter in every crawl corpus (CCNet /
    RefinedWeb both gate on it). Heuristic: error-phrase match plus a
    short-page signal (error pages are tiny). ``soft404`` = phrase hit
    AND < 50 whitespace tokens; the phrase flag and token count are
    also exposed so downstream can re-threshold. Pure codegen, zero
    shuffle."""
    hit = F.col(col).rlike(SOFT404_RE).cast("int")
    n_tok = F.when(F.trim(F.col(col)) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col(col)), WS_SPLIT))
    )
    return docs.select(
        "*",
        hit.alias("err_phrase"),
        ((hit == 1) & (n_tok < 50)).cast("int").alias("soft404"),
    )


def nfc_normalize(docs: DataFrame, col: str = "text") -> DataFrame:
    """Unicode NFC normalization + changed flag — the canonicalization a
    corpus needs before exact dedup/fingerprinting (the same visible
    string arrives from the web as precomposed é U+00E9 and decomposed
    e+U+0301; unnormalized, they hash apart and every downstream exact
    operator silently treats them as different documents).

    Spark has no built-in normalizer, so this is the sanctioned slow
    path: an Arrow-batched pandas UDF over ``unicodedata.normalize``
    (ICU-equivalent for NFC). The fast path stays fast: NFC is idempotent
    and the UDF short-circuits per batch via a quick-check — pure-ASCII
    batches (the overwhelming crawl majority after extraction) take the
    vectorized ``str.isascii`` exit without touching per-row Python.
    Adds ``text_nfc`` and ``nfc_changed`` (int 0/1)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        nonascii_mask = s.str.contains("[^\x00-\x7f]", regex=True, na=False)
        if not nonascii_mask.any():  # ASCII is NFC by construction
            return s
        out = s.copy()
        nonascii = s[nonascii_mask]
        out[nonascii_mask] = nonascii.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )
        return out

    nfc = _nfc(F.col(col))
    return docs.select(
        "*",
        nfc.alias("text_nfc"),
        (nfc != F.col(col)).cast("int").alias("nfc_changed"),
    )


def _clean_tokens(col: str = "text"):
    """Lowercased whitespace tokens with the empty-document sentinel
    removed — shared by collocations / inverted_index and mirrored
    verbatim by their SQL oracles."""
    return F.filter(
        F.transform(_tokens(col), lambda t: F.lower(t)), lambda t: t != F.lit("")
    )


def collocations(docs: DataFrame, min_count: int = 3, col: str = "text") -> DataFrame:
    """Corpus-level bigram association mining (collocation extraction —
    the PMI method of Church & Hanks 1990, in lift form): for every
    adjacent lowercased word pair,

        lift = (c_pair * n_tokens) / (c1 * c2)

    i.e. exp(PMI); > 1 means the pair co-occurs more often than the
    unigram frequencies predict ("new york"-style multiword units, a
    standard corpus-analysis signal for tokenizer and phrase-table
    construction). Emits (w1, w2, c_pair, c1, c2, lift) for pairs with
    c_pair >= min_count.

    Plan shape: one explode for unigram counts and one for pair counts
    (both shrink to vocabulary size at the map-side partial), the corpus
    total as a 1-row broadcast, then two vocabulary-sized joins onto the
    pair table. No corpus-sized shuffle: everything after the partial
    aggregates is vocabulary-scale. All multiplications happen in
    double (after counting) so 100-TB token totals cannot overflow.
    """
    toks = _clean_tokens(col)
    cnt = F.size(toks)
    pairs_arr = F.when(
        cnt >= 2,
        F.transform(
            F.sequence(F.lit(1), cnt - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_tokens"))  # 1 row
    pair = (
        docs.select(F.explode(pairs_arr).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_pair"))
        .filter(F.col("c_pair") >= min_count)
    )
    joined = (
        pair.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(total))
    )
    lift = (F.col("c_pair").cast("double") * F.col("n_tokens").cast("double")) / (
        F.col("c1").cast("double") * F.col("c2").cast("double")
    )
    return joined.select("w1", "w2", "c_pair", "c1", "c2", lift.alias("lift"))


def inverted_index(
    docs: DataFrame,
    min_df: int = 2,
    max_postings: int = 1000,
    col: str = "text",
) -> DataFrame:
    """Term -> (document frequency, ordered posting list) — the search /
    corpus-audit index over extracted text. ``df`` is exact; the posting
    list is the first ``max_postings`` doc_ids in ascending order,
    comma-joined (mega-terms like stopwords would otherwise materialize
    corpus-sized arrays in one aggregation buffer — the cap is applied
    BEFORE collect_list via a rank window, so per-term executor memory
    is bounded by max_postings at any corpus size). Terms with
    df < min_df are dropped (hapax noise).

    Plan: one distinct-terms explode -> (a) hash-agg for df, (b) sorted
    rank window + bounded collect_list for postings, joined on the term
    (both sides vocabulary-scale)."""
    from pyspark.sql import Window

    terms = docs.select(
        "doc_id", F.explode(F.array_distinct(_clean_tokens(col))).alias("term")
    )
    df_tbl = (
        terms.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    postings = (
        terms.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_postings)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return df_tbl.join(postings, "term").select("term", "df", "postings")


# Typography normalization table — applied in order, shared verbatim
# with the SQL oracle (literal 1:1 or 1:N replacements, no regex).
PUNCT_MAP = (
    ("‘", "'"), ("’", "'"), ("‚", "'"), ("‛", "'"),
    ("“", '"'), ("”", '"'), ("„", '"'),
    ("–", "-"), ("—", "-"), ("−", "-"),
    (" ", " "), ("…", "..."),
)


def normalize_punct(docs: DataFrame, col: str = "text") -> DataFrame:
    """Typography normalization: curly quotes → ASCII quotes, en/em
    dash and minus → hyphen, NBSP → space, ellipsis → '...'. Standard
    pre-tokenization cleanup (web text arrives with smart typography
    that fragments tokenizer vocabularies). Adds ``text_norm`` +
    ``punct_changed`` (0/1). A chain of LITERAL replaces in frozen
    order — pure codegen, zero shuffle, engine-exact by construction."""
    out = F.col(col)
    for src, dst in PUNCT_MAP:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return docs.select(
        "*",
        out.alias("text_norm"),
        (out != F.col(col)).cast("int").alias("punct_changed"),
    )


def char_class_profile(docs: DataFrame, col: str = "text") -> DataFrame:
    """ASCII character-class counters per document: uppercase,
    lowercase, digits, whitespace, and ``n_other`` (everything else —
    symbols and non-ASCII). The raw material of Gopher/C4-style symbol
    and capitalization gates; integer counts so the oracle compares
    exactly, ratios derive downstream. Pure codegen projections."""
    t = F.coalesce(F.col(col), F.lit(""))
    n_upper = F.regexp_count(t, F.lit("[A-Z]")).cast("int")
    n_lower = F.regexp_count(t, F.lit("[a-z]")).cast("int")
    n_digit = F.regexp_count(t, F.lit("[0-9]")).cast("int")
    n_space = F.regexp_count(t, F.lit("[ \\t\\r\\n]")).cast("int")
    n_chars = F.length(t).cast("int")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_upper.alias("n_upper"),
        n_lower.alias("n_lower"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
        (n_chars - n_upper - n_lower - n_digit - n_space).alias("n_other"),
    )


def compression_ratio(docs: DataFrame, col: str = "text", level: int = 6) -> DataFrame:
    """zlib compression ratio per document — the classic
    redundancy/templatedness proxy of web-corpus curation (RedPajama-v2
    and Dolma both ship it as a quality signal: boilerplate and spam
    compress far better than prose). → (doc_id, n_bytes, n_compressed,
    ratio) with ratio = n_compressed / n_bytes (lower = more
    redundant), 0-byte docs → ratio 1.0.

    zlib is not expressible in SQL, so this is the sanctioned Arrow
    path: a pandas UDF batching zlib.compress over UTF-8 bytes —
    deterministic for a fixed level (pytest anchors exact byte counts;
    the driver gate is rows-only by design). Zero shuffle; fuses into
    any scan of ``text``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _clen(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(
            lambda v: len(zlib.compress(v.encode("utf-8"), level))
            if v is not None
            else 0
        )

    n_bytes = F.octet_length(F.coalesce(F.col(col), F.lit("")))
    n_comp = _clen(F.col(col))
    ratio = F.when(n_bytes == 0, F.lit(1.0)).otherwise(
        n_comp.cast("double") / n_bytes.cast("double")
    )
    return docs.select(
        "doc_id",
        n_bytes.cast("long").alias("n_bytes"),
        n_comp.alias("n_compressed"),
        ratio.alias("ratio"),
    )


# Unicode confusables (a pragmatic core of UTS #39): Cyrillic/Greek
# letters that render identically to Latin — the spam-evasion alphabet
# ("vіаgra" passes a naive wordlist). Frozen (src, dst) pairs; the two
# translate strings are derived so they can never drift in length.
HOMOGLYPH_PAIRS = (
    # Cyrillic lowercase
    ("а", "a"), ("е", "e"), ("о", "o"), ("р", "p"), ("с", "c"),
    ("х", "x"), ("у", "y"), ("і", "i"), ("к", "k"), ("ԁ", "d"), ("ѕ", "s"),
    # Cyrillic uppercase
    ("А", "A"), ("В", "B"), ("Е", "E"), ("К", "K"), ("М", "M"),
    ("Н", "H"), ("О", "O"), ("Р", "P"), ("С", "C"), ("Т", "T"), ("Х", "X"),
    # Greek lowercase
    ("ο", "o"), ("ν", "v"), ("ρ", "p"), ("α", "a"),
    # Greek uppercase
    ("Α", "A"), ("Β", "B"), ("Ε", "E"), ("Ζ", "Z"), ("Η", "H"),
    ("Ι", "I"), ("Κ", "K"), ("Μ", "M"), ("Ν", "N"), ("Ο", "O"),
    ("Ρ", "P"), ("Τ", "T"), ("Υ", "Y"), ("Χ", "X"),
)
HOMOGLYPH_SRC = "".join(s for s, _ in HOMOGLYPH_PAIRS)
HOMOGLYPH_DST = "".join(d for _, d in HOMOGLYPH_PAIRS)
assert len(HOMOGLYPH_SRC) == len(HOMOGLYPH_DST)


def fold_homoglyphs(docs: DataFrame, col: str = "text") -> DataFrame:
    """Fold Cyrillic/Greek lookalike letters onto their Latin twins
    (UTS #39 confusables, pragmatic subset): adds ``text_folded`` and
    ``homoglyphs_folded`` (count of replaced code points). One
    ``translate`` projection — pure codegen, zero shuffle. Run BEFORE
    any wordlist gate; obfuscated spam is invisible without it. NOT a
    linguistic normalization: apply to gate inputs, never to the text
    you keep (folding real Cyrillic prose would destroy it — gate on
    the dominant-script profile first, webx/textstats.py
    script_profile)."""
    folded = F.translate(F.col(col), HOMOGLYPH_SRC, HOMOGLYPH_DST)
    n = F.length(col) - F.length(
        F.translate(F.col(col), HOMOGLYPH_SRC, "")
    )
    return docs.select(
        "*", folded.alias("text_folded"), n.cast("int").alias("homoglyphs_folded")
    )


def blocklist_gate(
    docs: DataFrame,
    terms: tuple,
    col: str = "text",
) -> DataFrame:
    """Obfuscation-resilient term gate: homoglyph-fold, lowercase, and
    strip non-alphanumerics before matching, so "V-і-a-g.r-a" hits the
    plain wordlist. Adds ``blocked_term`` (first frozen-order match or
    NULL) and ``keep`` (0/1). Matching is substring `contains` over the
    canonical form — terms list broadcasts as literals into ONE codegen
    projection; no join, no shuffle, fuses into any scan."""
    canon = F.lower(
        F.regexp_replace(
            F.translate(F.col(col), HOMOGLYPH_SRC, HOMOGLYPH_DST),
            "[^\\p{Alnum}]",
            "",
        )
    )
    hit = F.lit(None).cast("string")
    for t in reversed(terms):
        hit = F.when(canon.contains(t.lower()), F.lit(t)).otherwise(hit)
    return docs.select(
        "*",
        hit.alias("blocked_term"),
        hit.isNull().cast("int").alias("keep"),
    )


def char_entropy(col, prefix_chars: int = 4096):
    """Per-document Shannon character entropy in bits — the
    gibberish/encrypted-payload quality gate (near-random bytes ≈ 6-8
    bits/char; natural language ≈ 3.5-4.5; single-char spam → 0).
    Computed within-row by pure codegen higher-order functions over the
    first ``prefix_chars`` characters (entropy stabilizes long before
    that; the bound keeps per-row cost O(prefix·alphabet) and the op
    shuffle-free at any corpus size), in the algebraic form

        H = log2(n) - (1/n) * sum_c count(c) * log2(count(c))

    which an oracle can replay term-for-term. NULL/empty → 0.0."""
    c = F.col(col) if isinstance(col, str) else col
    cs = F.split(F.substring(c, 1, prefix_chars), "")
    n = F.size(cs).cast("double")
    counts = F.transform(
        F.array_distinct(cs),
        lambda ch: F.size(F.filter(cs, lambda x: x == ch)).cast("double"),
    )
    sum_clog = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, k: acc + k * F.log2(k),
    )
    return F.when(
        n > 0, F.round(F.log2(n) - sum_clog / n, 6)
    ).otherwise(F.lit(0.0))


def bm25_topk(
    docs: DataFrame,
    query_terms: "list[str]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval over the corpus for one multi-term query →
    top-k (rank, doc_id, n_hit, tf_sum, dl, score): Robertson-Sparck
    Jones idf in the Lucene non-negative form
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``, per-term saturation
    ``tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl))``, summed over query
    terms. The mining op behind corpus search / seed-document
    expansion in curation loops (find docs like the quality seeds).

    Deterministic: ties break (score desc, doc_id asc); the driver-
    gated columns are the exact integers (rank, n_hit, tf_sum, dl) —
    the float score is a pure function of them plus (df, N, avgdl)
    that pytest re-derives. Plan shape: term explode filtered to the
    tiny query vocabulary BEFORE any shuffle (the filter is a literal
    isin — predicate on the exploded generator output, so only
    query-term tokens survive), one groupBy (doc, term), a broadcast
    of the ≤|query| df rows, and a global TakeOrdered(k) — no window
    over an unpartitioned frame, no full sort. dl/avgdl come from a
    narrow ``size(split(...))`` projection; N and avgdl are two
    scalars from ONE driver action over that projection (not a
    count() plus a separate avg() — one scan, not two).
    """
    dl = docs.select("doc_id", F.size(_tokens()).alias("dl"))
    n_docs, avgdl = dl.agg(F.count("*"), F.avg("dl")).first()
    avgdl = avgdl or 0.0
    terms = docs.select(
        "doc_id",
        F.explode(F.transform(_tokens(), lambda t: F.lower(t))).alias("term"),
    ).filter(F.col("term").isin([t.lower() for t in query_terms]))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
            ),
        )
    )
    # fixed-order summation: Σ over terms folds in the QUERY's term
    # order via one conditional max per term (each (doc, term) has one
    # row, so max == the value) — a groupBy float SUM would fold in
    # partition order and two engines (or two runs) could disagree in
    # the last ulp on 3+-term matches, flipping rank ties.
    term_slots = [
        F.max(F.when(F.col("term") == t.lower(), F.col("s"))).alias(f"_s{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_hit"),
        F.sum("tf").cast("long").alias("tf_sum"),
        F.first("dl").alias("dl"),
        *term_slots,
    )
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        score = score + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    per_doc = per_doc.withColumn("score", score)
    top = per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "doc_id", "n_hit", "tf_sum", "dl", "score"
    )


# Common UTF-8-bytes-read-as-cp1252 signatures (the ftfy use case):
# each is the cp1252 rendering of a frequent UTF-8 sequence — curly
# quotes/dashes/ellipsis (â€™ â€œ â€“ â€” â€¦), accented Latin (Ã©
# Ã¨ Ã¼ Ã¶ Ã¤ Ã± Ã§), guillemets/degree (Â« Â» Â°). Literal
# alternation ONLY — no char classes — so Java regex (Spark) and RE2
# (DuckDB oracle) agree byte-for-byte.
MOJIBAKE_SIGS = (
    "â€™", "â€œ", "â€“", "â€”", "â€¦",
    "Ã©", "Ã¨", "Ã¼", "Ã¶", "Ã¤", "Ã±", "Ã§",
    "Â«", "Â»", "Â°",
    # second-level (double-encoded) markers: cp1252 readings of the
    # UTF-8 of the FIRST-level corruption ("Ãƒ" = twice-corrupted Ã...,
    # "Ã¢â‚¬" = twice-corrupted â€ punctuation family)
    "Ãƒ", "Ã¢â‚¬",
)
MOJIBAKE_RE = "|".join(MOJIBAKE_SIGS)


def mojibake_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_moji, moji) — count of double-encoding signatures
    (UTF-8 bytes decoded as cp1252 somewhere upstream: the single most
    common real-crawl text corruption) and the per-doc flag. Detection
    is pure codegen (one regexp count over a literal alternation, no
    shuffle) and fuses into any scan; repair is the separate
    Arrow-batched ``mojibake_repair`` (a charset round-trip is not
    SQL-expressible, so the repair is pytest-anchored while THIS frame
    carries the full value oracle)."""
    n = F.regexp_count(F.col("text"), F.lit(MOJIBAKE_RE)).cast("int")
    return docs.select(
        "doc_id", n.alias("n_moji"), (n > 0).alias("moji")
    )


def mojibake_repair(docs: DataFrame, max_rounds: int = 2) -> DataFrame:
    """Undo cp1252 double-encoding: rows whose text matches a
    signature are round-tripped text.encode('cp1252').decode('utf-8')
    up to ``max_rounds`` times (double-mojibake exists in real crawls);
    a row that fails either leg (genuine cp1252 text that merely LOOKS
    suspicious, or mixed corruption) keeps its original text — repair
    must never destroy. Arrow-batched mapInPandas on the flagged
    SUBSET only (the common path — clean text — never leaves the JVM).
    """
    import pandas as pd

    flagged = docs.filter(F.regexp_count(F.col("text"), F.lit(MOJIBAKE_RE)) > 0)
    clean = docs.filter(
        F.regexp_count(F.col("text"), F.lit(MOJIBAKE_RE)) == 0
    ).withColumn("repaired", F.lit(False))

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ) + ", repaired boolean"

    def fix(batches):
        import re as _re

        sig = _re.compile(MOJIBAKE_RE)
        for pdf in batches:
            out_text, out_flag = [], []
            for t in pdf["text"]:
                cur, did = t, False
                for _ in range(max_rounds):
                    if not sig.search(cur):
                        break
                    try:
                        nxt = cur.encode("cp1252").decode("utf-8")
                    except (UnicodeEncodeError, UnicodeDecodeError):
                        break
                    cur, did = nxt, True
                out_text.append(cur)
                out_flag.append(did)
            pdf = pdf.copy()
            pdf["text"] = out_text
            pdf["repaired"] = out_flag
            yield pdf

    return flagged.mapInPandas(fix, schema).unionByName(clean)


def rake_keywords(
    docs: DataFrame,
    stopwords: tuple = STOPWORDS,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; word score = deg/freq where
    deg(w) sums the lengths of every candidate occurrence containing w
    and freq(w) counts occurrences; a phrase scores the sum of its
    words' scores. → (doc_id, phrase, score, rank), top-``k`` phrases
    per document by (score DESC, phrase ASC).

    Determinism across engines: deg and freq are exact integers; each
    word score is ONE division; the phrase score folds word scores in
    PHRASE ORDER (sorted-struct reassembly → left fold), so the DuckDB
    oracle reproduces every double bit-for-bit. Plan: tokens + a
    per-document cumulative-delimiter window assign phrase ids (one
    exchange on doc_id), word stats are one corpus-wide aggregate on
    the word key, and the final top-k rides a WindowGroupLimit-pruned
    rank. Keyword extraction is the reference's per-crop dictionary
    scoring generalized to phrases (mindocr rec postprocess scores
    token sequences against a char dict)."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_tokens(text_col)).alias("pos", "w"),
    ).filter(F.col("w") != "")
    from pyspark.sql import Window as _W

    wd = _W.partitionBy("doc_id").orderBy("pos")
    marked = toks.withColumn("is_stop", F.array_contains(sw, F.col("w")))
    phrased = marked.withColumn(
        "phrase_id", F.sum(F.col("is_stop").cast("int")).over(wd)
    ).filter(~F.col("is_stop"))
    # phrase words in position order per (doc, phrase occurrence):
    # sorted-struct reassembly makes collect_list order deterministic
    occ = phrased.groupBy("doc_id", "phrase_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("pw")
    ).select(
        "doc_id",
        "phrase_id",
        F.transform("pw", lambda s: s["w"]).alias("words"),
        F.size("pw").alias("plen"),
    )
    word_occ = occ.select(
        "doc_id", "plen", F.explode("words").alias("w")
    )
    stats = word_occ.groupBy("w").agg(
        F.sum("plen").cast("long").alias("deg"),
        F.count("*").cast("long").alias("freq"),
    )
    scored_words = stats.select(
        "w", (F.col("deg").cast("double") / F.col("freq").cast("double")).alias("ws")
    )
    # phrase score: rejoin word scores, fold in phrase order
    pw = occ.select(
        "doc_id", "phrase_id", "words", F.posexplode("words").alias("wpos", "w")
    ).join(scored_words, "w")
    phrase_scored = pw.groupBy("doc_id", "phrase_id").agg(
        F.concat_ws(" ", F.any_value("words")).alias("phrase"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("wpos", "ws"))),
                lambda s: s["ws"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score"),
    )
    wr = _W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("phrase"))
    return (
        phrase_scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("doc_id", "phrase", "score", "rank")
    )


def texttiling_boundaries(
    docs: DataFrame,
    block: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextTiling-style topic segmentation (Hearst 1997), exact-integer
    variant: tokens group into ``block``-token pseudo-sentences; the
    cohesion of each GAP between adjacent blocks is the cosine of their
    term-count vectors; a topic boundary is a STRICT local minimum of
    gap cohesion. → (doc_id, gap_idx, boundary) with gap_idx g between
    blocks g and g+1.

    Exactness across engines: cosine itself is never materialized —
    cos_a < cos_b over non-negative integer vectors is decided by the
    integer cross-product test  na²·db1·db2 < nb²·da1·da2  (sqrt is
    monotone), so boundary flags are pure BIGINT arithmetic the DuckDB
    oracle replays term for term. Magnitudes: n ≤ block², block-norms
    ≤ block², so the products stay ≤ block⁸ ≈ 10⁸ ≪ 2^63.

    Plan: one (doc, block, token) count aggregate; the gap numerator is
    ONE self-join on (doc, token) between adjacent blocks; the
    local-minimum test is lag/lead windows over the per-doc gap frame
    (rows ≈ tokens/block, tiny next to the corpus). Segmentation is
    the reference's detect stage in text space — region proposals from
    local evidence valleys (DBNet threshold maps)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_tokens(text_col)).alias("pos", "w"),
    ).filter(F.col("w") != "")
    counts = toks.groupBy(
        "doc_id", (F.col("pos") / block).cast("int").alias("b"), "w"
    ).agg(F.count("*").cast("long").alias("c"))
    norms = counts.groupBy("doc_id", "b").agg(
        F.sum(F.col("c") * F.col("c")).alias("nrm")
    )
    nxt = counts.select(
        "doc_id", (F.col("b") - 1).alias("b"), "w", F.col("c").alias("c2")
    )
    num = (
        counts.join(nxt, ["doc_id", "b", "w"])
        .groupBy("doc_id", "b")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("num"))
    )
    n2 = norms.select("doc_id", (F.col("b") - 1).alias("b"), F.col("nrm").alias("nrm2"))
    gaps = (
        norms.join(n2, ["doc_id", "b"])
        .join(num, ["doc_id", "b"], "left")
        .select(
            "doc_id",
            F.col("b").alias("gap_idx"),
            F.coalesce("num", F.lit(0)).alias("num"),
            (F.col("nrm") * F.col("nrm2")).alias("den"),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("gap_idx")
    g = (
        gaps.withColumn("pn", F.lag("num").over(w))
        .withColumn("pd", F.lag("den").over(w))
        .withColumn("nn", F.lead("num").over(w))
        .withColumn("nd", F.lead("den").over(w))
    )
    # cos_self < cos_prev  ⟺  num²·pd < pn²·den   (den, pd > 0)
    lt_prev = F.col("num") * F.col("num") * F.col("pd") < F.col("pn") * F.col(
        "pn"
    ) * F.col("den")
    lt_next = F.col("num") * F.col("num") * F.col("nd") < F.col("nn") * F.col(
        "nn"
    ) * F.col("den")
    boundary = (
        F.when(F.col("pn").isNull() | F.col("nn").isNull(), F.lit(False))
        .otherwise(lt_prev & lt_next)
        .cast("int")
    )
    return g.select("doc_id", "gap_idx", "num", "den", boundary.alias("boundary"))
