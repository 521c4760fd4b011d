"""Seeded inputs and their goldens.

Everything here runs in set-up, outside every timed region. The program
under test only ever sees the Parquet files written here: ``(url, html)``
page rows, or, for ``curate``, a ``documents`` table that the curation
funnel turns into pages itself.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word list and shape of the documents table the synth page templates
# were designed around: 10-100 words from a 30-word vocabulary, five
# languages, 20 sources, and 5% near-copies that end in " dup".
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
WS = re.compile(r"[ \t\r\n\f\x0b]+")

# Per-workload input size at scale 1.0 (see README.md for why).
FLAGSHIP_BASE_DOCS = 5000
FLAGSHIP_DOCS = 40_000
GNARLY_DOCS = 20_000
CRAWL_BASE_DOCS = 1000
CRAWL_DOCS = 2000
CRAWL_PAGE_REPEAT = 32
CURATE_DOCS = 1000
CURATE_CORPUS_SEED = 0  # fixed: the DuckDB oracle is computed once per corpus
PAGE_FILES = 16

# Seed never used while the benchmark was tuned (see BASELINE.md).
HOLDOUT_SEED = 7919


def gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    """A documents table (doc_id, text, lang, source, n_chars)."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, off = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[off : off + k]))
        off += k
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[k] for k in langs],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def golden_text(doc_id: int, text: str) -> str:
    """The synth closed form ``'Doc '||doc_id||'\\n'||norm(text)``."""
    return f"Doc {doc_id}\n{WS.sub(' ', text).strip()}"


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(path: str, info: dict) -> dict:
    with open(os.path.join(path, "info.json"), "w") as f:
        json.dump(info, f)
    open(os.path.join(path, "_DONE"), "w").close()
    return info


def _load_info(path: str) -> dict:
    with open(os.path.join(path, "info.json")) as f:
        return json.load(f)


def prune(root: str, keep: int = 4) -> None:
    """Keep only the newest ``keep`` generated inputs under ``root``."""
    dirs = sorted(glob.glob(os.path.join(root, "*")), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def synth_page_input(spark, path: str, seed: int, base_docs: int, docs: int,
                     page_repeat: int = 1) -> dict:
    """Flagship pages (``webx.synth.synth_pages``) for ``base_docs``
    seeded documents; ``docs`` rows drawn from them with replacement in
    seeded order, so the seed sets the permutation and how often each
    page repeats. Urls get a ``#row`` suffix and stay unique."""
    if _ready(path):
        return _load_info(path)
    from pyspark.sql import functions as F

    from webx import synth

    shutil.rmtree(path, ignore_errors=True)
    rng = np.random.default_rng(seed)
    documents = gen_documents(rng, base_docs)
    os.makedirs(os.path.join(path, "docs"))
    pq.write_table(documents, os.path.join(path, "docs", "documents.parquet"))
    picks = rng.integers(0, base_docs, size=docs)
    pq.write_table(
        pa.table({"row": np.arange(docs), "doc_id": picks}),
        os.path.join(path, "picks.parquet"),
    )
    pages = synth.synth_pages(spark, os.path.join(path, "docs"), page_repeat)
    pages = pages.select(
        "url", "html",
        F.regexp_extract("url", r"doc/(\d+)$", 1).cast("long").alias("doc_id"),
    )
    rows = spark.read.parquet(os.path.join(path, "picks.parquet"))
    (
        rows.join(pages, "doc_id")
        .select(F.concat_ws("#", "url", F.col("row").cast("string")).alias("url"),
                "html", "row")
        .repartitionByRange(PAGE_FILES, "row")
        .sortWithinPartitions("row")
        .drop("row")
        .write.parquet(os.path.join(path, "pages"))
    )
    texts = documents.column("text").to_pylist()
    golden = {i: golden_text(i, " ".join([texts[i]] * page_repeat))
              for i in range(base_docs)}
    with open(os.path.join(path, "golden.json"), "w") as f:
        json.dump(golden, f)
    nbytes = spark.read.parquet(os.path.join(path, "pages")).select(
        F.sum(F.octet_length("html"))
    ).first()[0]
    return _finish(path, {"docs": docs, "html_bytes": int(nbytes)})


def synth_expected(path: str):
    """url → expected text for a ``synth_page_input`` directory."""
    with open(os.path.join(path, "golden.json")) as f:
        by_doc = json.load(f)
    return lambda url: by_doc.get(url.rsplit("#", 1)[0].rsplit("/", 1)[1])


def gnarly_fixtures(root: str) -> list:
    """[(name, html bytes, golden text)] for the committed gnarly corpus."""
    fixdir = os.path.join(root, "tests", "fixtures", "gnarly")
    out = []
    for fn in sorted(os.listdir(fixdir)):
        if fn.endswith(".html"):
            name = fn[:-5]
            with open(os.path.join(fixdir, fn), "rb") as f:
                html = f.read()
            with open(os.path.join(fixdir, name + ".txt"), encoding="utf-8") as f:
                out.append((name, html, f.read()))
    return out


def gnarly_input(root: str, path: str, seed: int, docs: int) -> dict:
    """The committed fixtures sampled with replacement; the seed sets the
    sample and the url salt. Golden: each fixture's ``.txt``."""
    if _ready(path):
        return _load_info(path)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "pages"))
    fx = gnarly_fixtures(root)
    rng = np.random.default_rng(seed)
    salt = int(rng.integers(0, 1 << 30))
    picks = rng.integers(0, len(fx), size=docs)
    urls = [f"https://s{salt}.gnarly.example/{fx[k][0]}/{i}" for i, k in enumerate(picks)]
    htmls = [fx[k][1] for k in picks]
    per = -(-docs // PAGE_FILES)
    for j in range(PAGE_FILES):
        sl = slice(j * per, (j + 1) * per)
        pq.write_table(
            pa.table({"url": pa.array(urls[sl], pa.string()),
                      "html": pa.array(htmls[sl], pa.binary())}),
            os.path.join(path, "pages", f"part-{j:03d}.parquet"),
        )
    return _finish(path, {"docs": docs, "html_bytes": sum(len(h) for h in htmls)})


def gnarly_expected(root: str):
    """url → expected text (the fixture's ``.txt``) for ``gnarly_input``."""
    golden = {name: txt for name, _, txt in gnarly_fixtures(root)}
    return lambda url: golden.get(url.rsplit("/", 2)[1])


def curate_input(path: str, seed: int, docs: int) -> dict:
    """A documents table for the curation funnel. Its content is fixed
    (``CURATE_CORPUS_SEED``) so that the oracle is computed once per
    corpus; the run seed sets the row order, which sets which rows land
    in which task."""
    if _ready(path):
        return _load_info(path)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "docs"))
    documents = gen_documents(np.random.default_rng(CURATE_CORPUS_SEED), docs)
    order = np.random.default_rng(seed).permutation(docs)
    pq.write_table(documents.take(order), os.path.join(path, "docs", "documents.parquet"))
    digest = hashlib.sha256()
    for col in ("doc_id", "text", "lang"):
        digest.update(repr(documents.column(col).to_pylist()).encode())
    return _finish(path, {"docs": docs, "corpus": digest.hexdigest()[:16]})


def curate_oracle(cache_dir: str, docs_dir: str, corpus: str) -> list:
    """The DuckDB ``oracle_sql()['q_curate_pipeline']`` rows for a corpus,
    computed once and cached (it takes tens of seconds)."""
    cache = os.path.join(cache_dir, f"curate-{corpus}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    try:
        src = os.path.join(docs_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
        res = con.execute(E.oracle_sql()["q_curate_pipeline"])
        cols = [d[0] for d in res.description]
        rows = [dict(zip(cols, r)) for r in res.fetchall()]
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{cache}.tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, cache)
    return rows
