"""Driver contract for the spark-graft builder (PySpark target).

Every query runs the real webx pipeline (or one of its companion
training-data operators) against deterministic inputs derived from the
driver's parquet tables; every oracle recomputes the *expected* result
independently in DuckDB SQL (generate-input-from-expected-output, the
reference's tests/st/test_online_infer.py trick — see webx/synth.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # CWD-independent

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from webx import oracles as _oracles, synth
from webx.config import ExtractConfig
from webx.dedup import exact_dedup, jaccard_verify, minhash_neardup, simhash_neardup
from webx.media import media_features, synth_media
from webx.metrics import det_metrics
from webx.pipeline import explode_spans, run_detect, run_extraction
from webx.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    hyperplanes as _hyperplanes,
    lsh_topk,
)
from webx.textstats import fingerprint, lang_id, quality_score, token_count

CFG = ExtractConfig()
CFG_NFC = ExtractConfig(nfc=True)

# ---------------------------------------------------------------- SQL bits
_C = synth.template_constants()
NL = "chr(10)"
NORM = "trim(regexp_replace(text, '[ \\t\\r\\n\\f\\x0B]+', ' ', 'g'))"
DID = "('Doc ' || CAST(doc_id AS VARCHAR))"
URL = (
    "('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/doc/' "
    "|| CAST(doc_id AS VARCHAR))"
)
ESC = (
    f"replace(replace(replace({NORM}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
)
GOLDEN = f"({DID} || {NL} || {NORM})"
WS_SPLIT_SQL = "'[ \\t\\r\\n]+'"
STOP_SQL = "['the','a','an','and','of','in','to','is','for','on']"


# ---------------------------------------------------------------- queries

def _par(df, spark):
    """The small-SF parquet tables are single files → single input split →
    heavy per-row queries would run on ONE task. An explicit repartition
    to the session's parallelism fixes the split pathology (on a real
    many-file crawl table the scan is already split and this exchange is
    unnecessary — it is the cfg.repartition story at test scale)."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _pages(spark, sf):  # flagship pages
    return _par(synth.synth_pages(spark, sf), spark)


def q_extract(spark: SparkSession, sf: str) -> DataFrame:
    return run_extraction(_pages(spark, sf), CFG).select("url", "text")


def q_extract_multispan(spark: SparkSession, sf: str) -> DataFrame:
    return run_extraction(_par(synth.synth_pages_multi(spark, sf), spark), CFG).select("url", "text")


def q_extract_entities(spark: SparkSession, sf: str) -> DataFrame:
    return run_extraction(_par(synth.synth_pages_entities(spark, sf), spark), CFG).select("url", "text")


def q_extract_latin1(spark: SparkSession, sf: str) -> DataFrame:
    return run_extraction(_par(synth.synth_pages_latin1(spark, sf), spark), CFG).select("url", "text")


def q_extract_filter_empty(spark: SparkSession, sf: str) -> DataFrame:
    out = run_extraction(_par(synth.synth_pages_edge(spark, sf), spark), CFG)
    return out.filter(F.size("spans") > 0).select("url", "text")


def q_extract_gnarly(spark: SparkSession, sf: str) -> DataFrame:
    """Messy-real-web markup rotation (webx/synth.py GNARLY_PARTS):
    conditional comments, downlevel-revealed text, unclosed table/li soup,
    CDATA ghosts, script-string fake tags, mis-nested inline tags, quoted
    '>' attributes, BOM, duplicate <body>, post-</html> junk — all must
    extract to the SAME closed form as the flagship (the reference's
    paste-real-data system-test discipline,
    tests/st/test_train_eval_dummy.py:22-100)."""
    return run_extraction(_par(synth.synth_pages_gnarly(spark, sf), spark), CFG).select("url", "text")


def q_extract_overlay(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship article wrapped in modern consent chrome (webx/synth.py
    synth_pages_overlay): a GDPR modal whose long link-free paragraph
    passes every density gate, plus a newsletter strip. Gates the
    class/id-hint boilerplate regions (webx/tokenize.py NEG_CLASS_TOKENS,
    the readability.js unlikelyCandidates analog) and title-as-metadata:
    expected text is byte-identical to the unwrapped flagship page's."""
    return run_extraction(_par(synth.synth_pages_overlay(spark, sf), spark), CFG).select("url", "text")


def q_extract_rawkept(spark: SparkSession, sf: str) -> DataFrame:
    """Raw-KEPT element decode (webx/synth.py synth_pages_rawkept): the
    article ends with an <xmp> markup sample whose content is literal
    text per the HTML spec — tags shown, character references NOT
    decoded. Gates the raw-kept lexer category (webx/tokenize.py
    RAWKEPT_TAGS, one block with tag_cnt=0) and the split decoder
    (webx/recognize.py decode_span_rawkept): the expected extra line is
    the source bytes verbatim."""
    return run_extraction(_par(synth.synth_pages_rawkept(spark, sf), spark), CFG).select("url", "text")


def q_extract_headline(spark: SparkSession, sf: str) -> DataFrame:
    """Heading rescue (webx/synth.py synth_pages_headline): a
    1990s-newsletter story headline — ``<font size=3><b>…</b></font>
    <br>`` with no h1..h6 — whose inline-tag density fails
    binary_thresh and is kept ONLY by the frozen rescue predicate
    (webx/detect.py merge_runs_table: link-free, short, score >=
    rescue_thresh, immediately preceding a base candidate; identical
    rule in the C kernel wx_detect). The page's ISSN strapline is the
    in-template negative control: it also precedes a base candidate
    but scores 0.195 < rescue_thresh and must stay dropped."""
    return run_extraction(_par(synth.synth_pages_headline(spark, sf), spark), CFG).select("url", "text")


def q_split_comments(spark: SparkSession, sf: str) -> DataFrame:
    """Comment separation (webx/comments.py split_comments — the
    trafilatura comments-field analog): the page's comments section
    routes into comment_text while the main text stays byte-identical
    to the flagship closed form. Regions are depth-tracked class/id
    comment containers (value-trap-proof sequential attribute parse,
    island-aware); spans partition against them by byte intersection,
    so a span straddling the boundary feeds both streams split at the
    boundary."""
    from webx.comments import split_comments

    pages = _par(synth.synth_pages_comments(spark, sf), spark)
    return split_comments(pages, CFG)


def q_extract_pre(spark: SparkSession, sf: str) -> DataFrame:
    """<pre> whitespace preservation (webx/synth.py synth_pages_pre):
    the article ends with a <pre><code> sample whose four-space
    indentation and double interior spaces must survive byte-identical
    (webx/recognize.py pre_regions + decode_span_pre — preformatted
    text is exempt from the whitespace-collapse normalize policy; the
    escaped comparison operators still entity-decode). The span that
    carries the code block also carries normal prose, gating the
    partition of one span into collapsed and preserved parts."""
    return run_extraction(_par(synth.synth_pages_pre(spark, sf), spark), CFG).select("url", "text")


def q_extract_tables(spark: SparkSession, sf: str) -> DataFrame:
    """HTML data-table extraction (webx/tables.py): the article's spec
    table — caption, th header row, three closed-form fact rows —
    becomes one output row per cell (url, table_idx, row_idx, col_idx,
    header, cell, caption), while the adjacent pure-link layout table
    is rejected by the frozen data/layout classifier (anchor-text
    ratio 1.0 > 0.5). Nested-table exactness, implicit closures and
    the lexer-precedence comment/rawtext blanking are pytest-gated
    (tests/test_tables.py); this query gates the end-to-end cell
    values + classifier on every document. One narrow mapInPandas —
    the run_extraction plan shape."""
    from webx.tables import run_table_extraction

    pages = _par(synth.synth_pages_tables(spark, sf), spark)
    return run_table_extraction(pages, CFG)


def q_extract_nonprose(spark: SparkSession, sf: str) -> DataFrame:
    """Non-prose drop regions (webx/synth.py synth_pages_nonprose): the
    article's last paragraph mixes prose with inline svg (a11y
    title/desc + chart labels), a ruby annotation, a select/option
    list, and a button. Gates the DROP lexer category
    (webx/tokenize.py DROP_TAGS — inline region, one tag, text never
    counts, ends at close tag or block boundary) and the stage-2 drop
    pass (webx/recognize.py _strip_droptext): the regions' text must
    vanish without splitting surrounding words (ruby glues, no stray
    spaces)."""
    return run_extraction(_par(synth.synth_pages_nonprose(spark, sf), spark), CFG).select("url", "text")


def q_extract_invisible(spark: SparkSession, sf: str) -> DataFrame:
    """Invisible format characters (webx/synth.py
    synth_pages_invisible): the article's last paragraph carries soft
    hyphens (raw U+00AD and &shy;), zero-width spaces, bidi
    embeddings/isolates, word joiners and a mid-body FEFF — all pure
    presentation, all stripped by the normalize policy
    (webx/recognize.py _INVIS_RE) BEFORE whitespace collapse (the
    stray FEFF between two spaces must leave one space) — while ZWNJ
    in a Persian verb and ZWJ in a family emoji survive (orthographic
    joiners are content, not presentation)."""
    return run_extraction(_par(synth.synth_pages_invisible(spark, sf), spark), CFG).select("url", "text")


def q_extract_nfc(spark: SparkSession, sf: str) -> DataFrame:
    """Optional Unicode NFC composition (webx/synth.py synth_pages_nfc,
    ExtractConfig(nfc=True)): the article's last paragraph is written
    in decomposed form — combining acute/diaeresis, conjoining Hangul
    jamo, the Angstrom/Ohm singletons, plus a q+combining-acute
    sequence with no precomposed form. The config flag composes
    decoded span text (ASCII is NFC-invariant, so the fused C path is
    untouched); the oracle replays DuckDB's nfc_normalize over the
    same decomposed literal — a genuine cross-engine NFC contract."""
    return run_extraction(
        _par(synth.synth_pages_nfc(spark, sf), spark), CFG_NFC
    ).select("url", "text")


def q_extract_charset_edge(spark: SparkSession, sf: str) -> DataFrame:
    """WHATWG charset prescan edge rotation (webx/synth.py
    synth_pages_charset_edge): meta-in-comment, BOM-less UTF-16LE,
    latin1→cp1252 registry mapping, x-user-defined, UTF-16 pragma on
    ASCII bytes. Each case distinguishes the spec prescan from a naive
    charset= substring sniff."""
    return run_extraction(
        _par(synth.synth_pages_charset_edge(spark, sf), spark), CFG
    ).select("url", "text")


def q_extract_warc(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end through the WARC container: flagship pages serialized
    into WARC files (deterministic fixture, cached per sf dir), read back
    via the distributed WARC source (webx/sources.py), extracted — must
    be byte-identical to the same closed-form oracle as q_extract."""
    import hashlib
    import os

    from webx.sources import read_warc, write_warc

    # key by content fingerprint (mtime+size of the source parquet), not
    # just the path — regenerated testdata at the same path must not
    # silently reuse a stale fixture
    src = os.path.join(sf, "documents.parquet")
    st = os.stat(src)
    # "ce1" = fixture layout version (mixed Content-Encoding rotation);
    # bump on layout changes or a stale cached fixture is reused
    key = hashlib.md5(
        f"{sf}:{st.st_mtime_ns}:{st.st_size}:ce1".encode()
    ).hexdigest()[:10]
    d = f"/tmp/webx_warcq_{key}"
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        # DISTRIBUTED fixture write: each task serializes its partition
        # into one WARC shard (local-mode task fs == driver fs); only the
        # 8 shard paths come back to the driver, never the pages
        import pandas as pd
        from pyspark import TaskContext

        def write_shard(batches):
            recs = []
            for p in batches:
                recs.extend(
                    (u, t.to_pydatetime(), bytes(h))
                    for u, t, h in zip(p["url"], p["warc_ts"], p["html"])
                )
            pid = TaskContext.get().partitionId()
            path = os.path.join(d, f"part-{pid}.warc")
            with open(path, "wb") as f:
                # mixed gzip/deflate Content-Encoding: the reader must
                # reverse the HTTP content coding before extraction
                f.write(write_warc(recs, content_encoding="mixed"))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})

        (
            synth.synth_pages(spark, sf)
            .select("url", "warc_ts", "html")
            .repartition(8)
            .mapInPandas(write_shard, "path string, n long")
            .collect()
        )
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    pages = read_warc(spark, os.path.join(d, "part-*.warc"))
    return run_extraction(pages, CFG).select("url", "text")


def q_extract_warc_damaged(spark: SparkSession, sf: str) -> DataFrame:
    """Damage tolerance through the gzipped WARC container: every shard
    is Common-Crawl-layout (one gzip member per record) and every shard
    ENDS in damage — even shards a mid-stream-truncated junk member,
    odd shards a bit-corrupted junk member. The reader must keep every
    record from the intact members (webx/sources.py member-wise
    decompression; gzip.decompress of the whole shard would return
    nothing), so the result is byte-identical to q_extract's oracle."""
    import gzip as _gz
    import hashlib
    import os

    from webx.sources import read_warc, write_warc

    src = os.path.join(sf, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{sf}:{st.st_mtime_ns}:{st.st_size}:dmg1".encode()
    ).hexdigest()[:10]
    d = f"/tmp/webx_warcdmg_{key}"
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        import datetime as _dt

        import pandas as pd
        from pyspark import TaskContext

        def write_shard(batches):
            recs = []
            for p in batches:
                recs.extend(
                    (u, t.to_pydatetime(), bytes(h))
                    for u, t, h in zip(p["url"], p["warc_ts"], p["html"])
                )
            pid = TaskContext.get().partitionId()
            junk = [(
                "http://junk.invalid/x",
                _dt.datetime(2026, 1, 1),
                b"<p>sacrificial record in the damaged member</p>",
            )]
            body = b"".join(_gz.compress(write_warc([r])) for r in recs)
            tail = _gz.compress(write_warc(junk))
            if pid % 2 == 0:
                tail = tail[: len(tail) // 2]  # truncated mid-member
            else:
                tail = bytearray(tail)
                tail[12] ^= 0xFF  # corrupt deflate body
                tail = bytes(tail)
            path = os.path.join(d, f"part-{pid}.warc.gz")
            with open(path, "wb") as f:
                f.write(body + tail)
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})

        (
            synth.synth_pages(spark, sf)
            .select("url", "warc_ts", "html")
            .repartition(8)
            .mapInPandas(write_shard, "path string, n long")
            .collect()
        )
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    pages = read_warc(spark, os.path.join(d, "part-*.warc.gz"))
    return run_extraction(pages, CFG).select("url", "text")


def q_xrobots_gate(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP-layer robots exclusion: X-Robots-Tag applies to any payload
    type and OUTRANKS in-document meta for non-HTML captures, so a
    compliant corpus builder must gate on it at the header level (the
    meta-robots sibling is q_robots_meta). Every 4th page's capture
    carries ``X-Robots-Tag: noindex, nofollow``; the rest a benign
    Cache-Control. read_warc_http surfaces the header as a column, the
    gate drops noindex captures BEFORE extraction, and survivors must be
    byte-identical to the flagship oracle restricted to doc_id%4<>0."""
    import os

    from webx.sources import read_warc_http, write_warc

    d, done = _fixture_dir(sf, "xrobots")
    if not done:
        os.makedirs(d, exist_ok=True)
        import pandas as pd
        from pyspark import TaskContext

        def write_shard(batches):
            recs = []
            for p in batches:
                recs.extend(
                    (u, t.to_pydatetime(), bytes(h))
                    for u, t, h in zip(p["url"], p["warc_ts"], p["html"])
                )

            def hdrs(i, url):
                did = int(url.rsplit("/", 1)[1])
                if did % 4 == 0:
                    return [("X-Robots-Tag", "noindex, nofollow")]
                return [("Cache-Control", "max-age=3600")]

            pid = TaskContext.get().partitionId()
            path = os.path.join(d, f"part-{pid}.warc")
            with open(path, "wb") as f:
                f.write(write_warc(recs, headers_fn=hdrs))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})

        (
            synth.synth_pages(spark, sf)
            .select("url", "warc_ts", "html")
            .repartition(8)
            .mapInPandas(write_shard, "path string, n long")
            .collect()
        )
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    caps = read_warc_http(
        spark, os.path.join(d, "part-*.warc"), names=("x-robots-tag",)
    )
    keep = caps.filter(
        ~F.lower(F.col("x_robots_tag")).rlike("noindex")
    ).select("url", "warc_ts", "html")
    return run_extraction(keep, CFG).select("url", "text")


def q_politeness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host politeness audit over the fetch log — WARC ``request``
    records (the capture side CC stores next to each response) → host →
    inter-request gaps → (n_requests, min/avg gap). The fixture fetches
    doc_id at base + 13·doc_id seconds, so host h{doc_id%7} sees a
    uniform 91-second cadence the oracle states closed-form. One window
    shuffle on host + same-key agg; 12 bytes per request row."""
    import os

    from pyspark.sql import Window

    from webx.sources import read_warc_requests, write_warc_requests

    d, done = _fixture_dir(sf, "polreq")
    if not done:
        os.makedirs(d, exist_ok=True)
        import datetime as _dt

        import pandas as pd
        from pyspark import TaskContext

        base = _dt.datetime(2026, 3, 1)

        def write_shard(batches):
            recs = []
            for p in batches:
                for u in p["url"]:
                    did = int(u.rsplit("/", 1)[1])
                    recs.append((u, base + _dt.timedelta(seconds=13 * did)))
            pid = TaskContext.get().partitionId()
            path = os.path.join(d, f"part-{pid}.warc.gz")
            import gzip as _gz

            with open(path, "wb") as f:
                f.write(_gz.compress(write_warc_requests(recs)))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})

        (
            synth.synth_pages(spark, sf)
            .select("url")
            .repartition(8)
            .mapInPandas(write_shard, "path string, n long")
            .collect()
        )
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    reqs = read_warc_requests(spark, os.path.join(d, "part-*.warc.gz"))
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    w = Window.partitionBy("host").orderBy("req_ts")
    gaps = reqs.select(host.alias("host"), F.col("req_ts")).select(
        "host",
        (
            F.col("req_ts").cast("long")
            - F.lag(F.col("req_ts").cast("long")).over(w)
        ).alias("gap_s"),
    )
    return gaps.groupBy("host").agg(
        F.count("*").alias("n_requests"),
        F.min("gap_s").cast("double").alias("min_gap_s"),
        F.round(F.avg("gap_s"), 6).alias("avg_gap_s"),
    )


def q_mime_route(spark: SparkSession, sf: str) -> DataFrame:
    """Payload routing by magic bytes (webx/sources.sniff_mime, the
    WHATWG MIME-sniffing byte-pattern table): a mixed corpus where each
    capture's bytes are HTML / PDF / PNG / GIF / JPEG / ZIP / gzip /
    plain text by residue class must route to the lane the BYTES say,
    regardless of what a Content-Type header would claim. Pure codegen
    CASE over binary prefixes — fuses into the scan, zero Python."""
    from webx.sources import sniff_mime

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    r = F.col("doc_id") % 8
    body = F.encode(F.col("text"), "utf-8")
    payload = (
        F.when(r == 0, F.concat(F.lit(b"<!DOCTYPE html><p>"), body))
        .when(r == 1, F.concat(F.lit(b"%PDF-1.4\n"), body))
        .when(r == 2, F.concat(F.lit(b"\x89PNG\r\n\x1a\n"), body))
        .when(r == 3, F.concat(F.lit(b"GIF89a"), body))
        .when(r == 4, F.concat(F.lit(b"\xff\xd8\xff\xe0"), body))
        .when(r == 5, F.concat(F.lit(b"PK\x03\x04"), body))
        .when(r == 6, F.concat(F.lit(b"\x1f\x8b\x08"), body))
        .otherwise(body)
    )
    pages = docs.select("doc_id", payload.alias("html"))
    return pages.select("doc_id", sniff_mime("html").alias("mime"))


def q_idn_homograph(spark: SparkSession, sf: str) -> DataFrame:
    """IDN homograph audit (webx/urls.idn_homograph_audit): hosts
    rotate ASCII / mixed-Latin-Cyrillic punycode (the classic
    pаypal.com spoof) / all-Cyrillic punycode (ordinary IDN — must NOT
    flag) / Latin-diacritic punycode (bücher.com — must NOT flag); the
    oracle states the decoded Unicode hosts and both flags closed-form.
    Decode is the one Arrow-batched Python step; flags are codegen."""
    from webx.urls import idn_homograph_audit

    docs = _par(synth.load_documents(spark, sf).select("doc_id"), spark)
    r = F.col("doc_id") % 4
    host = (
        F.when(
            r == 0,
            F.concat(
                F.lit("h"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com"),
            ),
        )
        .when(r == 1, F.lit("xn--pypal-4ve.com"))
        .when(r == 2, F.lit("xn--h1ahn.com"))
        .otherwise(F.lit("xn--bcher-kva.com"))
    )
    return idn_homograph_audit(docs.select("doc_id", host.alias("host")))


def q_char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon character entropy per document (webx/textstats.
    char_entropy) — the gibberish/encrypted-content gate. Exact oracle:
    DuckDB replays the same log2(n) - sum(c·log2 c)/n form over the
    same 4096-char prefix. Zero shuffle — pure codegen HOFs."""
    from webx.textstats import char_entropy

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return docs.select("doc_id", char_entropy("text").alias("entropy"))


def q_extract_warc_charset(spark: SparkSession, sf: str) -> DataFrame:
    """WHATWG charset precedence through the WARC lane: pages whose
    bytes are cp1252 (smart quotes in 0x80-0x9F), whose in-document
    meta LIES (iso-8859-1 — decodes those bytes to control chars), and
    whose HTTP Content-Type declares charset=windows-1252. The header
    hint (read_warc with_charset=True → run_extraction charset_col)
    must outrank the meta or the quotes come out as U+0093/U+0094."""
    import hashlib
    import os

    import pandas as pd

    from pyspark import TaskContext

    from webx.sources import read_warc, write_warc
    from webx.synth import P_CHROME, P_HEAD_LATIN1, P_MID, _did, _esc, _norm

    docs = synth.load_documents(spark, sf)
    did, i = _did(), F.col("doc_id").cast("string")
    quoted = F.concat(F.lit(" \x93q"), i, F.lit("\x94"))
    html_str = F.concat(
        F.lit(P_HEAD_LATIN1), did, F.lit(P_CHROME), did, F.lit(P_MID),
        _esc(_norm(F.col("text"))), quoted,
        F.lit("</p></article><footer><p>(c) 2026 Example Corp."
              "</p></footer></body></html>"),
    )
    pages_src = docs.select(
        synth._url().alias("url"),
        synth._warc_ts().alias("warc_ts"),
        F.encode(html_str, "ISO-8859-1").alias("html"),
    )
    src = os.path.join(sf, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{sf}:{st.st_mtime_ns}:{st.st_size}:cs1".encode()
    ).hexdigest()[:10]
    d = f"/tmp/webx_warccs_{key}"
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)

        def write_shard(batches):
            recs = []
            for p in batches:
                recs.extend(
                    (u, t.to_pydatetime(), bytes(h))
                    for u, t, h in zip(p["url"], p["warc_ts"], p["html"])
                )
            pid = TaskContext.get().partitionId()
            path = os.path.join(d, f"part-{pid}.warc")
            with open(path, "wb") as f:
                f.write(write_warc(recs, charset="windows-1252"))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})

        (
            pages_src.repartition(8)
            .mapInPandas(write_shard, "path string, n long")
            .collect()
        )
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    pages = read_warc(spark, os.path.join(d, "part-*.warc"), with_charset=True)
    return run_extraction(pages, CFG, charset_col="http_charset").select(
        "url", "text"
    )


def q_extract_warc_revisit(spark: SparkSession, sf: str) -> DataFrame:
    """Common Crawl's container-level dedup: each page is captured TWICE
    (its url and url?rev=1); the second capture is stored as a REVISIT
    record (payload digest only, no body — webx/sources.py
    write_warc_revisits). The pipeline reads records, resolves revisits
    by one digest join (resolve_revisits), extracts — and must produce
    the closed-form golden text at BOTH urls, proving the dedup
    round-trips losslessly."""
    import hashlib
    import os

    from webx.sources import read_warc_records, resolve_revisits, write_warc_revisits

    src = os.path.join(sf, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{sf}:{st.st_mtime_ns}:{st.st_size}:rv1".encode()
    ).hexdigest()[:10]
    d = f"/tmp/webx_warcrv_{key}"
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        import pandas as pd
        from pyspark import TaskContext

        def write_shard(batches):
            recs = []
            for p in batches:
                for u, t, h in zip(p["url"], p["warc_ts"], p["html"]):
                    recs.append((u, t.to_pydatetime(), bytes(h)))
                    recs.append((u + "?rev=1", t.to_pydatetime(), bytes(h)))
            pid = TaskContext.get().partitionId()
            path = os.path.join(d, f"part-{pid}.warc")
            with open(path, "wb") as f:
                f.write(write_warc_revisits(recs))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})

        (
            synth.synth_pages(spark, sf)
            .select("url", "warc_ts", "html")
            .repartition(8)
            .mapInPandas(write_shard, "path string, n long")
            .collect()
        )
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    records = read_warc_records(spark, os.path.join(d, "part-*.warc"))
    pages = resolve_revisits(records)
    return run_extraction(pages, CFG).select("url", "text")


def q_extract_pdf(spark: SparkSession, sf: str) -> DataFrame:
    """PDF lane of the two-stage extractor (webx/pdf.py): deterministic
    text PDFs built from the documents table rotating every parser lane
    (classic xref / xref streams ± predictor / CID fonts) and every
    stream filter (Flate, LZW with both EarlyChange values, the
    ASCII85-over-Flate chain, ASCIIHex, raw), parsed back via xref walk
    → text-object detect → sequential decode — must reproduce the SAME
    closed-form golden text as the HTML flagship."""
    from webx.pdf import extract_pdf

    pdfs = _par(synth.synth_pdfs(spark, sf), spark)
    return extract_pdf(pdfs).select("url", "text")


def q_extract_pdf_cid(spark: SparkSession, sf: str) -> DataFrame:
    """Composite-font PDF lane (webx/pdf.py font maps): every document a
    Type0/CID PDF — show ops as 2-byte-code HEX strings, the code →
    unicode map carried in a /ToUnicode CMap (codespacerange, bfchar,
    both bfrange forms) exactly as modern subsetted-font writers emit.
    Extraction must reproduce the SAME closed-form golden text as the
    flagship, byte-identical — proving the CMap decode is exact, not
    approximate."""
    from webx.pdf import extract_pdf

    pdfs = _par(synth.synth_pdfs(spark, sf, layout="cid"), spark)
    return extract_pdf(pdfs).select("url", "text")


def q_extract_pdf_encrypted(spark: SparkSession, sf: str) -> DataFrame:
    """Encrypted-PDF lane (webx/pdfcrypt.py standard security handler):
    every document an /Encrypt PDF with an empty user password, cycling
    RC4-128 (V2/R3), RC4-40 (V1/R2) and AES-128 (V4/R4 AESV2 crypt
    filter) by doc_id %% 3. The handler must verify /U (Algorithms 2+4/5),
    derive per-object keys (Algorithm 1) and decrypt the content stream
    before filters — extraction must reproduce the SAME closed-form
    golden text as the plaintext flagship, byte-identical."""
    from webx.pdf import extract_pdf

    pdfs = _par(synth.synth_pdfs(spark, sf, layout="encrypted"), spark)
    return extract_pdf(pdfs).select("url", "text")


def q_extract_wet(spark: SparkSession, sf: str) -> DataFrame:
    """Extraction output round-tripped through the WET container (the
    Common-Crawl extracted-text interchange format): flagship extraction
    → distributed WET sink (conversion records, cached per sf
    fingerprint) → distributed WET source — text must come back
    byte-identical to the same closed-form golden as q_extract."""
    import os

    from webx.sources import read_wet, write_wet_dir

    d, done = _fixture_dir(sf, "wetq")
    if not done:
        out = run_extraction(_pages(spark, sf), CFG).select(
            "url",
            F.to_timestamp(F.lit("2026-03-01 12:00:00")).alias("wet_ts"),
            "text",
        )
        write_wet_dir(out.repartition(8), d)
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    return read_wet(spark, os.path.join(d, "part-*.wet")).select("url", "text")


def q_wat_links(spark: SparkSession, sf: str) -> DataFrame:
    """The third Common-Crawl container format, WAT (per-capture JSON
    metadata envelopes in a WARC wrapper), completing the family next to
    q_extract_warc / q_extract_wet: flagship pages → ordered raw-href
    lists (the same regex lane extract_links uses) + <title> → a
    distributed WAT sink in the CC physical layout (one gzip member per
    metadata record) → the distributed WAT source → posexplode + href
    resolution. Output (url, href, resolved) must equal q_extract_links'
    closed-form oracle — link extraction survives a round-trip through
    the interchange format."""
    import os

    from webx.sources import read_wat, write_wat_dir
    from webx.urls import _HREF_RE, _lossy_utf8, resolve_href

    d, done = _fixture_dir(sf, "watq")
    if not done:
        txt = _lossy_utf8("html")
        wat_rows = _pages(spark, sf).select(
            "url",
            F.to_timestamp(F.lit("2026-03-01 12:00:00")).alias("wat_ts"),
            F.regexp_extract(txt, r"(?is)<title[^>]*>([^<]*)", 1).alias("title"),
            F.regexp_extract_all(txt, F.lit(_HREF_RE), 1).alias("links"),
        )
        write_wat_dir(wat_rows.repartition(8), d)
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    wat = read_wat(spark, os.path.join(d, "part-*.wat.gz"))
    out = wat.select("url", F.explode("links").alias("href"))
    return out.select(
        "url", "href", resolve_href(F.col("url"), F.col("href")).alias("resolved")
    )


def _fixture_dir(sf: str, tag: str) -> tuple:
    """Content-keyed /tmp fixture dir (mtime+size of the source parquet):
    regenerated testdata at the same path must not reuse a stale fixture.
    Returns (dir, already_built)."""
    import hashlib
    import os

    src = os.path.join(sf, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(f"{sf}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:10]
    d = f"/tmp/webx_{tag}_{key}"
    return d, os.path.exists(os.path.join(d, "_DONE"))


def q_convert_bulk(spark: SparkSession, sf: str) -> DataFrame:
    """Bulk parallel-array container roundtrip (the SynthTextDataset
    analog — reference mindocr/data/det_dataset.py:155-165: ONE gt.mat
    whose imnames/wordBB/txt parallel arrays zip into per-sample
    records). Documents are packed into 16 shard rows of parallel
    (names[], texts[]) arrays ordered by doc_id, written as one
    columnar parquet, then recovered sample-by-sample through
    webx.convert convert('bulk_arrays', ...) — arrays_zip + posexplode,
    all JVM. The oracle replays the shard/index arithmetic as window
    functions over documents."""
    import os

    from webx.convert import convert

    d, done = _fixture_dir(sf, "bulkq")
    if not done:
        os.makedirs(d, exist_ok=True)
        docs = synth.load_documents(spark, sf)
        packed = (
            docs.select((F.col("doc_id") % 16).alias("shard_id"),
                        F.col("doc_id"), synth._url().alias("name"), "text")
            .groupBy("shard_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "name", "text"))
                ).alias("recs")
            )
            .select(
                "shard_id",
                F.col("recs.name").alias("names"),
                F.col("recs.text").alias("texts"),
            )
        )
        packed.write.mode("overwrite").parquet(os.path.join(d, "bulk.parquet"))
        open(os.path.join(d, "_DONE"), "w").close()
    return convert(spark, "bulk_arrays", os.path.join(d, "bulk.parquet"))


def q_keyed_store(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end through the keyed binary store (the LMDB-analog source,
    webx/sources.py): flagship pages serialized into key-addressed shards
    (key=url, label=lang, value=html bytes), read back via the
    distributed shard reader, extracted — byte-identical to the same
    closed-form oracle as q_extract. Fixture written DISTRIBUTED (one
    shard per task; only shard paths return to the driver)."""
    import os

    from webx.sources import encode_keyed_shard, read_keyed_store

    d, done = _fixture_dir(sf, "kvq")
    if not done:
        os.makedirs(d, exist_ok=True)
        import pandas as pd
        from pyspark import TaskContext

        def write_shard(batches):
            recs = []
            for p in batches:
                recs.extend(
                    (u, lg, bytes(h))
                    for u, lg, h in zip(p["url"], p["lang"], p["html"])
                )
            pid = TaskContext.get().partitionId()
            path = os.path.join(d, f"shard-{pid:05d}.kvb")
            with open(path, "wb") as f:
                f.write(encode_keyed_shard(recs))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})

        (
            synth.synth_pages(spark, sf)
            .select("url", "lang", "html")
            .repartition(8)
            .mapInPandas(write_shard, "path string, n long")
            .collect()
        )
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    pages = read_keyed_store(spark, d).select(
        F.col("key").alias("url"), F.col("value").alias("html")
    )
    return run_extraction(pages, CFG).select("url", "text")


def q_convert_det_labels(spark: SparkSession, sf: str) -> DataFrame:
    """Converter-registry round trip (webx/convert.py — the reference's
    tools/dataset_converters dispatch): golden flagship spans serialized
    to the canonical ``url\\tJSON-span-array`` label lines (distributed
    text write), converted back via convert('det_labels', ...) — span
    offsets must equal the q_golden_spans closed form."""
    import os

    from webx.convert import convert

    d, done = _fixture_dir(sf, "detlq")
    if not done:
        spans = synth.golden_flagship_spans(spark, sf)
        lines = spans.select(
            F.concat(
                F.col("url"),
                F.lit("\t"),
                F.to_json(
                    F.transform(
                        "spans",
                        lambda s: F.struct(
                            s["start"].alias("start"),
                            s["end"].alias("end"),
                            F.lit("content").alias("kind"),
                        ),
                    )
                ),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(os.path.join(d, "labels"))
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    labels = convert(spark, "det_labels", os.path.join(d, "labels"))
    span = F.element_at("spans", 1)
    return labels.select(
        "url",
        F.size("spans").alias("n_spans"),
        span["start"].alias("start"),
        span["end"].alias("end"),
        span["kind"].alias("kind"),
    )


def q_convert_jsonl(spark: SparkSession, sf: str) -> DataFrame:
    """Bulk JSON-lines interchange round trip (webx/convert.py
    jsonl_pages — the reference's SynthTextDataset bulk-annotation read
    recast, data_converters/synthtext.py: one monolithic dump consumed
    fully distributed): flagship pages serialized to {url, ts, html_b64}
    JSONL (distributed write, one file per task), converted back through
    the registry, extracted — text must equal the golden closed form
    byte-for-byte, proving the interchange encode/decode is lossless on
    binary html."""
    import os

    from webx.convert import convert

    d, done = _fixture_dir(sf, "jsonlq")
    if not done:
        lines = synth.synth_pages(spark, sf).select(
            F.to_json(
                F.struct(
                    F.col("url"),
                    F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
                    F.base64("html").alias("html_b64"),
                )
            ).alias("value")
        )
        lines.write.mode("overwrite").text(os.path.join(d, "pages"))
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    pages = convert(spark, "jsonl_pages", os.path.join(d, "pages"))
    return run_extraction(pages, CFG).select("url", "text")


def q_publish_dates(spark: SparkSession, sf: str) -> DataFrame:
    """Publication-date fallback chain (webx/metadata.py publish_dates —
    the htmldate/trafilatura dating discipline, public): the dated
    fixture rotates lane availability by doc_id % 5 and plants a
    DIFFERENT date in every lane, so the oracle catches both missed
    lanes and precedence violations as value mismatches. Pure JVM
    codegen fused into the html scan — zero Python, zero shuffle."""
    from webx.metadata import publish_dates

    pages = _par(synth.synth_pages_dated(spark, sf), spark)
    return publish_dates(pages).select(
        "url", "publish_date", "publish_date_source"
    )


def q_spans_stats(spark: SparkSession, sf: str) -> DataFrame:
    out = run_detect(_par(synth.synth_pages_edge(spark, sf), spark), CFG)
    return out.select("url", F.size("spans").alias("n_spans"))


def q_golden_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Byte-exact span offsets — the strongest detector check."""
    ex = run_extraction(_pages(spark, sf), CFG)
    return explode_spans(ex).select("url", "span_idx", "start", "end", "kind")


def q_rec_metric(spark: SparkSession, sf: str) -> DataFrame:
    """RecMetric analog (mindocr/metrics/rec_metrics.py:62-151): exact-match
    count vs golden + total edit distance vs the raw teacher text."""
    pages = _pages(spark, sf).withColumnRenamed("text", "teacher")
    out = run_extraction(pages, CFG, passthrough=("teacher",))
    did = F.concat(F.lit("Doc "), F.regexp_extract("url", r"/doc/(\d+)$", 1))
    norm = F.trim(F.regexp_replace("teacher", synth.WS_CLASS, " "))
    return out.agg(
        F.count("*").alias("n_docs"),
        F.sum(
            (F.col("text") == F.concat(did, F.lit("\n"), norm)).cast("long")
        ).alias("n_correct"),
        F.sum(F.levenshtein("text", "teacher")).alias("sum_edit"),
    )


def q_lang_rollup(spark: SparkSession, sf: str) -> DataFrame:
    out = run_extraction(_pages(spark, sf), CFG, passthrough=("lang",))
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
    )


def q_topk_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Window/top-k: longest span per doc (rank by decoded length)."""
    from pyspark.sql import Window

    ex = run_extraction(_par(synth.synth_pages_multi(spark, sf), spark), CFG)
    spans = explode_spans(ex)
    w = Window.partitionBy("url").orderBy(
        F.desc(F.length("span_text")), F.asc("start")
    )
    return (
        spans.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url", F.col("span_text").alias("top_text"), F.length("span_text").alias("top_len"))
    )


def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    return token_count(synth.load_documents(spark, sf))


def q_quality(spark: SparkSession, sf: str) -> DataFrame:
    return quality_score(synth.load_documents(spark, sf))


def q_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    from webx.textstats import token_count_bpe

    return token_count_bpe(synth.load_documents(spark, sf))


def q_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    from webx.textstats import quality_filter

    return quality_filter(_par(synth.load_documents(spark, sf), spark))


def q_repetition(spark: SparkSession, sf: str) -> DataFrame:
    from webx.textstats import repetition_stats

    # repartition: the documents table is one parquet file; the ngram
    # explode is the dominant map-side cost and must not run one-core
    return repetition_stats(_par(synth.load_documents(spark, sf), spark))


def q_langid(spark: SparkSession, sf: str) -> DataFrame:
    return lang_id(_par(synth.load_documents(spark, sf), spark))


def q_langid_model(spark: SparkSession, sf: str) -> DataFrame:
    """TRAINED language ID (webx/langmodel.py): multinomial NB over
    hashed word uni+bigram features, trained at import over the frozen
    multilingual corpus, applied as pure codegen (per-language integer
    weight folds — the webx/classifier.py shape). Each document scores a
    HELD-OUT snippet in a rotating language plus its doc_id token; the
    model must recover the language of every row, and the DuckDB oracle
    recomputes all four integer scores bit-for-bit through the xxh64 SQL
    port. The stopword heuristic (q_langid) stays as the fallback."""
    from webx.langmodel import TEST_SNIPPETS, langid_model

    docs = synth.load_documents(spark, sf).select("doc_id")
    pick = F.col("doc_id") % 4
    snip = (
        F.when(pick == 0, F.lit(TEST_SNIPPETS["en"]))
        .when(pick == 1, F.lit(TEST_SNIPPETS["de"]))
        .when(pick == 2, F.lit(TEST_SNIPPETS["fr"]))
        .otherwise(F.lit(TEST_SNIPPETS["es"]))
    )
    text = F.concat_ws(" ", snip, F.col("doc_id").cast("string"))
    return langid_model(docs.withColumn("text", text))


def _langid_model_oracle_sql() -> str:
    """DuckDB replay: same snippet construction, same features (lower →
    whitespace split → uni + adjacent bigrams), xxh64 SQL port per
    feature, the SAME frozen integer weight tables as 256-row parallel
    unnest, NB sum per language, priority-ordered argmax."""
    from webx.langmodel import DIM, FROZEN_WEIGHTS, LANGS, TEST_SNIPPETS
    from webx.oracles import xxh64_str_ctes

    snip_case = (
        "CASE doc_id % 4 "
        + " ".join(
            f"WHEN {i} THEN '{TEST_SNIPPETS[l].replace(chr(39), chr(39)*2)}'"
            for i, l in enumerate(LANGS)
        )
        + " END"
    )
    wcols = ", ".join(
        "unnest(["
        + ",".join(str(v) for v in FROZEN_WEIGHTS[lang])
        + f"]) AS w_{lang}"
        for lang in LANGS
    )
    sums = ", ".join(
        f"CAST(SUM(w_{lang}) AS BIGINT) AS s_{lang}" for lang in LANGS
    )
    best = "greatest(" + ",".join(f"s_{l}" for l in LANGS) + ")"
    pred = " ".join(f"WHEN s_{l} = {best} THEN '{l}'" for l in LANGS)
    return _oracles.XXH64_MACROS + (
        "WITH src AS (SELECT doc_id, "
        f"{snip_case} || ' ' || CAST(doc_id AS VARCHAR) AS text FROM documents), "
        "tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), "
        "'[ \t\r\n]+') AS toks FROM src), "
        "uni AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, "
        "toks FROM tk), "
        "feats AS (SELECT doc_id, i AS fid, toks[i] AS f FROM uni "
        "UNION ALL "
        "SELECT doc_id, 1000000 + i AS fid, toks[i] || ' ' || toks[i+1] AS f "
        "FROM uni WHERE i < len(toks)), "
        + xxh64_str_ctes("feats", "doc_id, fid", "f", "fh")
        + f", wt AS (SELECT unnest(generate_series(0, {DIM - 1})) AS b, {wcols}), "
        f"sc AS (SELECT doc_id, {sums} FROM fh JOIN wt "
        f"ON wt.b = CAST(fh.h % {DIM} AS INT) GROUP BY doc_id) "
        f"SELECT doc_id, s_en, s_de, s_fr, s_es, "
        f"CASE {pred} END AS pred_lang FROM sc"
    )


def q_langid_paragraphs(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level language ID (webx/textstats.py
    lang_id_paragraphs — the CCNet granularity): every document gets a
    second paragraph appended in a rotating language (the language's own
    stopword list joined as text — single source of truth with the
    scorer), and the per-paragraph predictions must recover the mix.
    One narrow posexplode, scoring shared with q_langid's operator."""
    from webx.textstats import LANG_STOPWORDS, lang_id_paragraphs

    snippets = [" ".join(sw) for _, sw in LANG_STOPWORDS]
    docs = synth.load_documents(spark, sf).select("doc_id", "text")
    pick = F.col("doc_id") % len(snippets)
    snip = F.when(pick == 0, F.lit(snippets[0]))
    for i in range(1, len(snippets)):
        snip = snip.when(pick == i, F.lit(snippets[i]))
    two_para = docs.withColumn("text", F.concat("text", F.lit("\n"), snip))
    return lang_id_paragraphs(two_para)


def _langid_paragraphs_oracle_sql() -> str:
    """DuckDB mirror: same snippet construction, newline split with
    ordinality, and the SAME generated stopword scoring as the
    q_langid oracle (both derive from LANG_STOPWORDS)."""
    from webx.textstats import LANG_STOPWORDS

    snip_cases = " ".join(
        f"WHEN {i} THEN '{' '.join(sw)}'"
        for i, (_, sw) in enumerate(LANG_STOPWORDS)
    )
    score_cols = []
    for lang, sw in LANG_STOPWORDS:
        lst = "[" + ",".join(f"'{w}'" for w in sw) + "]"
        score_cols.append(
            f"len(list_filter(toks, w -> list_contains({lst}, w))) AS s_{lang}"
        )
    best = "greatest(" + ",".join(f"s_{lang}" for lang, _ in LANG_STOPWORDS) + ")"
    cases = " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang, _ in LANG_STOPWORDS
    )
    n = len(LANG_STOPWORDS)
    return (
        "WITH d AS (SELECT doc_id, text || chr(10) || "
        f"(CASE CAST(doc_id % {n} AS INT) {snip_cases} END) AS text2 FROM documents), "
        "p AS (SELECT doc_id, string_split(text2, chr(10)) AS paras FROM d), "
        "e AS (SELECT doc_id, generate_subscripts(paras, 1) - 1 AS para_idx, "
        "unnest(paras) AS para FROM p), "
        "t AS (SELECT doc_id, para_idx, list_transform(regexp_split_to_array("
        f"trim(para), {WS_SPLIT_SQL}), w -> lower(w)) AS toks FROM e), "
        f"s AS (SELECT doc_id, para_idx, {', '.join(score_cols)} FROM t) "
        "SELECT doc_id, para_idx, "
        f"(CASE WHEN {best} < 1 THEN 'und' {cases} END) AS pred_lang FROM s"
    )


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return fingerprint(synth.load_documents(spark, sf))


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup(synth.load_documents(spark, sf))


def _docs_with_neardups(spark: SparkSession, sf: str) -> DataFrame:
    """documents ∪ planted near-duplicates (last word dropped) for doc_id<20.

    Repartitioned to the session parallelism: the sf0.1 documents table is
    ONE parquet file, so without this the whole signature pass (the
    dominant cost of every near-dup query) runs on a single core — a real
    crawl has thousands of input splits and parallelizes at the scan."""
    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    planted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    # NOT cached: the dedup DAGs reference this subtree 2-3x but each
    # branch is a cheap pruned parquet re-scan + narrow ops — measured
    # 2.2x faster than a localCheckpoint materialization barrier at
    # sf0.1, and re-scanning (not materializing the corpus) is also the
    # only sane plan at crawl scale. No second _par around the union:
    # both branches are already split (32 + 32 partitions) and the
    # extra full-corpus exchange cost ~0.6s per scan pass ×2-3 passes
    # per dedup query (A/B at sf0.1: 0.90 -> 0.32s warm per pass).
    return docs.unionByName(planted)


def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs_with_neardups(spark, sf)
    return minhash_neardup(docs, threshold=0.6).select("id_a", "id_b").orderBy("id_a", "id_b")


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Pairs → connected components (one survivor per duplicate CLUSTER):
    min-label propagation over the MinHash near-dup pairs. The oracle
    recomputes the pairs via the XXH64 SQL port and closes them with a
    recursive transitive-closure CTE."""
    from webx.dedup import dedup_clusters, minhash_neardup

    docs = _docs_with_neardups(spark, sf)
    pairs = minhash_neardup(docs, threshold=0.6).select("id_a", "id_b")
    return dedup_clusters(pairs).orderBy("doc_id")


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs_with_neardups(spark, sf)
    return simhash_neardup(docs, max_hamming=3).select("id_a", "id_b").orderBy("id_a", "id_b")


def _emb(spark, sf):
    # one parquet file = one split: without the round-robin split every
    # per-vector pass (centroid assignment, scoring cross joins)
    # downstream of this scan runs on a single core — the q_bitext_margin
    # lesson applied to the whole embedding family
    return _par(spark.read.parquet(f"{sf}/embeddings.parquet"), spark)


def q_ann_cosine(spark: SparkSession, sf: str) -> DataFrame:
    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(emb, queries, k=5).select("query_id", "rank", "neighbor_id")


def q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    emb = _emb(spark, sf)
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(emb, queries, dim=dim, k=5).select("query_id", "rank", "neighbor_id")


def q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with a fixed sampled-anchor coarse quantizer (centroids =
    the first 16 corpus vectors — a standard quantizer init, playing the
    role of an offline-trained quantizer): inverted lists + n_probe
    probing + exact rerank. Deterministic ⇒ full value-hash oracle
    (webx/oracles.py mirrors the same left-associative double
    arithmetic). The KMeans-trained variant remains as
    webx.similarity.ivf_topk."""
    from webx.similarity import ivf_topk_deterministic

    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") < 8)
    cents = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    return ivf_topk_deterministic(emb, queries, cents, k=5, n_probe=4).select(
        "query_id", "rank", "neighbor_id"
    )


def q_pq_codes(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization encode (webx/similarity.py
    pq_encode_deterministic): 64-dim vectors → 4 one-byte codes against
    sampled-anchor codebooks — the compression that lets a 10^9-vector
    corpus live in executor memory. All-integer output; the oracle
    replays the identical pinned-fold subspace distances and (d, cid)
    argmin in DuckDB."""
    from webx.similarity import pq_encode_deterministic

    emb = _emb(spark, sf)
    return pq_encode_deterministic(emb, m=4, ksub=8, dim=64).select(
        "vec_id", "code_0", "code_1", "code_2", "code_3"
    )


def q_pq_adc(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ codes: broadcast
    per-query lookup tables, m map-side joins, one top-k window — the
    IVFADC scan shape (Jégou et al.) with bit-stable ranks (explicit
    left-associative ADC sum)."""
    from webx.similarity import pq_adc_topk

    emb = _emb(spark, sf)
    return pq_adc_topk(emb, emb.filter(F.col("vec_id") < 4), m=4, ksub=8, k=5)


def q_events_window(spark: SparkSession, sf: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


def q_media_meta(spark: SparkSession, sf: str) -> DataFrame:
    pages = _pages(spark, sf)
    return pages.select(
        "url",
        F.octet_length("html").alias("n_bytes"),
        (F.decode(F.substring("html", 1, 9), "UTF-8") == "<!DOCTYPE").alias("is_html"),
    )


def q_det_metric(spark: SparkSession, sf: str) -> DataFrame:
    """DetMetric analog (det_metrics.py:94-153) as an interval-IoU join:
    detector output on edge pages vs the closed-form golden spans for all
    docs -> precision 1.0, recall = non-boiler fraction."""
    pred = run_detect(_par(synth.synth_pages_edge(spark, sf), spark), CFG)
    golden = synth.golden_flagship_spans(spark, sf)
    return det_metrics(pred, golden)


def q_rec_quality(spark: SparkSession, sf: str) -> DataFrame:
    """RecMetric analog (rec_metrics.py:62-151): extracted text vs the raw
    teacher text -> acc + normalized edit distance. Same formula as
    webx.metrics.rec_metrics (exercised with a real pred⋈golden join in
    tests/test_metrics.py) but computed in ONE pass here — pred and
    teacher live in the same row, so a self-join would only re-run the
    extraction twice."""
    pages = _pages(spark, sf).withColumnRenamed("text", "teacher")
    out = run_extraction(pages, CFG, passthrough=("teacher",))
    eq = (F.col("text") == F.col("teacher")).cast("long")
    lev = F.levenshtein("text", "teacher")
    maxlen = F.greatest(F.length("text"), F.length("teacher"), F.lit(1))
    return out.agg(
        F.count("*").alias("n_docs"),
        F.sum(eq).alias("n_correct"),
        F.avg(eq.cast("double")).alias("acc"),
        F.avg(1.0 - lev / maxlen).alias("norm_edit"),
    )


def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard on the planted near-dup pairs (oracle
    recomputes the shingle sets independently in DuckDB)."""
    docs = _docs_with_neardups(spark, sf)
    pairs = spark.range(20).select(
        F.col("id").alias("id_a"), (F.col("id") + 1_000_000).alias("id_b")
    )
    return jaccard_verify(docs, pairs, shingle_k=3, threshold=0.0).orderBy("id_a")


def q_capture_recapture(spark: SparkSession, sf: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture estimate of corpus size from
    two INDEPENDENT deterministic hash samples (salts 1 and 2, 10%
    each): N̂ = ⌊n1·n2/m⌋ where m counts docs in both — the classic
    web-index-size estimation trick (Lawrence & Giles 1998), here as
    ONE narrow aggregate (no sample materialization, no shuffle beyond
    the final scalar agg). All-integer output; true_n alongside so the
    estimator's error is auditable per run."""
    from webx.sampling import hash_bucket

    docs = synth.load_documents(spark, sf).select("doc_id")
    in1 = (hash_bucket("doc_id", salt=1) < 100_000).cast("long")
    in2 = (hash_bucket("doc_id", salt=2) < 100_000).cast("long")
    agg = docs.agg(
        F.sum(in1).alias("n1"),
        F.sum(in2).alias("n2"),
        F.sum(in1 * in2).alias("m"),
        F.count("*").alias("true_n"),
    )
    return agg.select(
        "n1",
        "n2",
        "m",
        F.when(
            F.col("m") > 0, F.expr("(n1 * n2) DIV m")
        ).otherwise(F.lit(None)).alias("n_hat"),
        "true_n",
    )


def _capture_recapture_oracle_sql() -> str:
    from webx import oracles as _o

    b1 = _o.hash_bucket_sql("doc_id", 1)
    b2 = _o.hash_bucket_sql("doc_id", 2)
    return _o.XXH64_MACROS + (
        f"WITH f AS (SELECT CASE WHEN {b1} < 100000 THEN 1 ELSE 0 END AS i1, "
        f"CASE WHEN {b2} < 100000 THEN 1 ELSE 0 END AS i2 FROM documents), "
        "a AS (SELECT SUM(i1) AS n1, SUM(i2) AS n2, SUM(i1 * i2) AS m, "
        "COUNT(*) AS true_n FROM f) "
        "SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, "
        "CAST(m AS BIGINT) AS m, "
        "CASE WHEN m > 0 THEN CAST((n1 * n2) // m AS BIGINT) END AS n_hat, "
        "true_n FROM a"
    )


def q_texttiling(spark: SparkSession, sf: str) -> DataFrame:
    """TextTiling topic segmentation (webx/textstats.py
    texttiling_boundaries; Hearst 1997): gap cohesion between adjacent
    10-token blocks, boundaries at strict local minima. Cosine is never
    materialized — the minimum test is the integer cross-product
    comparison, so every flag is BIGINT-exact in the oracle."""
    from webx.textstats import texttiling_boundaries

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return texttiling_boundaries(docs, block=10)


def _texttiling_oracle_sql(block: int = 10) -> str:
    return (
        "WITH tok AS (SELECT doc_id, w, pos FROM ("
        "SELECT doc_id, unnest(toks) AS w, "
        "unnest(generate_series(1, len(toks))) AS pos FROM ("
        f"SELECT doc_id, regexp_split_to_array(trim(text), {WS_SPLIT_SQL}) "
        "AS toks FROM documents)) WHERE w <> ''), "
        f"cnt AS (SELECT doc_id, CAST((pos - 1) // {block} AS INT) AS b, w, "
        "COUNT(*) AS c FROM tok GROUP BY 1, 2, 3), "
        "nrm AS (SELECT doc_id, b, SUM(c * c) AS nrm FROM cnt GROUP BY 1, 2), "
        "num AS (SELECT a.doc_id, a.b, SUM(a.c * x.c) AS num FROM cnt a "
        "JOIN cnt x ON x.doc_id = a.doc_id AND x.b = a.b + 1 AND x.w = a.w "
        "GROUP BY 1, 2), "
        "gaps AS (SELECT n1.doc_id, n1.b AS gap_idx, "
        "COALESCE(num.num, 0) AS num, n1.nrm * n2.nrm AS den "
        "FROM nrm n1 JOIN nrm n2 ON n2.doc_id = n1.doc_id AND n2.b = n1.b + 1 "
        "LEFT JOIN num ON num.doc_id = n1.doc_id AND num.b = n1.b), "
        "g AS (SELECT *, lag(num) OVER w AS pn, lag(den) OVER w AS pd, "
        "lead(num) OVER w AS nn, lead(den) OVER w AS nd FROM gaps "
        "WINDOW w AS (PARTITION BY doc_id ORDER BY gap_idx)) "
        "SELECT doc_id, gap_idx, CAST(num AS BIGINT) AS num, "
        "CAST(den AS BIGINT) AS den, "
        "CAST(CASE WHEN pn IS NULL OR nn IS NULL THEN false "
        "ELSE num * num * pd < pn * pn * den "
        "AND num * num * nd < nn * nn * den END AS INT) AS boundary FROM g"
    )


def q_rake(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction (webx/textstats.py rake_keywords; Rose
    et al. 2010): stopword-delimited candidate phrases, word score =
    deg/freq, phrase score folded in phrase order — exact integers up
    to one division per word plus a pinned-order double fold, so the
    oracle reproduces every score bit-for-bit. Top-5 phrases per doc."""
    from webx.textstats import rake_keywords

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return rake_keywords(docs, k=5)


def _rake_oracle_sql(k: int = 5) -> str:
    from webx.textstats import STOPWORDS

    sw = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    return (
        "WITH tok AS (SELECT doc_id, w, pos FROM ("
        "SELECT doc_id, unnest(toks) AS w, "
        "unnest(generate_series(1, len(toks))) AS pos FROM ("
        f"SELECT doc_id, regexp_split_to_array(trim(text), {WS_SPLIT_SQL}) "
        "AS toks FROM documents)) WHERE w <> ''), "
        f"mk AS (SELECT doc_id, pos, w, list_contains({sw}, w) AS is_stop "
        "FROM tok), "
        "ph AS (SELECT doc_id, pos, w, phrase_id FROM ("
        "SELECT doc_id, pos, w, is_stop, "
        "SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER "
        "(PARTITION BY doc_id ORDER BY pos) AS phrase_id FROM mk) "
        "WHERE NOT is_stop), "
        "occ AS (SELECT doc_id, phrase_id, list(w ORDER BY pos) AS words, "
        "COUNT(*) AS plen FROM ph GROUP BY 1, 2), "
        "wocc AS (SELECT doc_id, plen, unnest(words) AS w FROM occ), "
        "stats AS (SELECT w, SUM(plen) AS deg, COUNT(*) AS freq "
        "FROM wocc GROUP BY w), "
        "ws AS (SELECT w, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS s "
        "FROM stats), "
        "pw AS (SELECT o.doc_id, o.phrase_id, o.words, u.w, u.wpos FROM occ o, "
        "LATERAL (SELECT unnest(o.words) AS w, "
        "unnest(generate_series(1, len(o.words))) AS wpos) u), "
        "psc AS (SELECT pw.doc_id, pw.phrase_id, "
        "array_to_string(any_value(pw.words), ' ') AS phrase, "
        "list_reduce(list(ws.s ORDER BY pw.wpos), (a, b) -> a + b) AS score "
        "FROM pw JOIN ws ON ws.w = pw.w GROUP BY 1, 2) "
        "SELECT doc_id, phrase, score, rank FROM ("
        "SELECT doc_id, phrase, score, CAST(row_number() OVER ("
        "PARTITION BY doc_id ORDER BY score DESC, phrase) AS INT) AS rank "
        f"FROM psc) WHERE rank <= {k}"
    )


def q_jaccard_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact set-similarity self-join via AllPairs/PPJoin prefix
    filtering (webx/dedup.py jaccard_join): every pair with 3-gram
    Jaccard ≥ 0.5, recall 1 by theorem — the oracle is the naive
    all-pairs join, so driver equality re-proves prefix-filter
    completeness on real keys. Complements q_dedup_minhash (the
    recall<1 LSH path) and q_dedup_jaccard (verify of GIVEN pairs)."""
    from webx.dedup import jaccard_join

    docs = _docs_with_neardups(spark, sf).filter(
        (F.col("doc_id") < 150) | (F.col("doc_id") >= 1_000_000)
    )
    return jaccard_join(docs, threshold=0.5, shingle_k=3)


def q_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007): k-anonymity's
    complement — an equivalence class whose members all share one
    sensitive value leaks it even at k≥5. Same quasi-identifier classes
    as q_k_anonymity, sensitive attribute = source; violation when the
    class carries < 3 distinct sensitive values. One hash aggregate."""
    docs = synth.load_documents(spark, sf)
    classes = docs.groupBy(
        "lang", (F.col("n_chars") / 100).cast("int").alias("len_bucket")
    ).agg(
        F.count("*").alias("n"),
        F.count_distinct("source").alias("n_sensitive"),
    )
    return classes.select(
        "lang",
        "len_bucket",
        "n",
        "n_sensitive",
        (F.col("n_sensitive") < 3).cast("int").alias("l_violation"),
    )


def q_fuzzy_join(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked Levenshtein self-join (webx/fuzzy.py): 24-char title keys
    plus planted one-deletion typo twins for doc_id<30; all pairs within
    edit distance 1 via the symmetric-deletion-neighborhood blocking
    (SymSpell/FastSS), verified with codegen ``levenshtein``. The oracle
    is the NAIVE all-pairs join with a (provably complete) length-band
    prune — equality of the two is the blocking-completeness theorem,
    re-proven on real keys every driver run. Same distance the reference
    scores recognition with (mindocr/metrics/rec_metrics.py:119), here
    as a join predicate."""
    from webx.fuzzy import fuzzy_self_pairs

    docs = synth.load_documents(spark, sf).select("doc_id", "text")
    t24 = F.substring("text", 1, 24)
    base = docs.select(F.col("doc_id").alias("id"), t24.alias("s"))
    planted = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1_000_000).alias("id"),
        F.expr(
            "concat(substring(substring(text, 1, 24), 1, doc_id % 20 + 1), "
            "substring(substring(text, 1, 24), doc_id % 20 + 3))"
        ).alias("s"),
    )
    keys = _par(base.unionByName(planted), spark)
    return fuzzy_self_pairs(keys, "id", "s", max_dist=1).select(
        "id_a", "id_b", "dist"
    )


def q_jw_join(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked Jaro-Winkler self-join (webx/jaro.py): variable-length
    title keys (8..31 chars, so the byte-length-ratio prune does real
    work) plus planted adjacent-transposition twins for doc_id<40 — the
    edit Levenshtein-1 blocking treats as distance 2 but JW scores
    ~0.96+. Candidates come from a log-banded byte-length equi-join
    whose completeness is the theorem jw >= t  =>  min/max >= 5t-4;
    the oracle is the NAIVE all-pairs join with DuckDB's NATIVE
    jaro_winkler_similarity and no prune, so equality re-proves both
    the blocking theorem and the byte-level scorer's bit-compatibility
    (rapidfuzz formulation: bytes, window max//2-1, mismatches//2
    transpositions, boost only when jaro > 0.7) on every driver run."""
    from webx.jaro import jw_self_pairs

    docs = (
        synth.load_documents(spark, sf)
        .select("doc_id", "text")
        # the operator's scope is DIMENSION-sized key sets (distinct
        # hosts/titles after exact-collapse); sample the corpus to that
        # scale — length-only blocking is quadratic in band occupancy
        .filter(F.col("doc_id") % 4 == 0)
    )
    key = F.expr("substring(text, 1, 8 + doc_id % 24)")
    base = docs.select(F.col("doc_id").alias("id"), key.alias("s"))
    planted = (
        docs.filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            key.alias("k"),
            (F.col("doc_id") % 6 + 2).cast("int").alias("p"),
        )
        .select(
            (F.col("doc_id") + 1_000_000).alias("id"),
            F.expr(
                "concat(substring(k, 1, p - 1), substring(k, p + 1, 1), "
                "substring(k, p, 1), substring(k, p + 2))"
            ).alias("s"),
        )
    )
    keys = _par(base.unionByName(planted), spark)
    return jw_self_pairs(keys, "id", "s", threshold=0.94)


def _docs_with_shifted_twins(spark, sf):
    """documents ∪ prefix-shifted twins: doc_id%10==0 gets a copy with
    14 bytes inserted at the front — the edit that breaks fixed-size
    blocking (every block boundary after the insertion shifts) but that
    content-defined chunking absorbs at the first content boundary."""
    docs = synth.load_documents(spark, sf).select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("edited prefix "), F.col("text")).alias("text"),
    )
    return _par(docs.unionByName(twins), spark)


_CDC_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000, 'edited prefix ' || text "
    "FROM documents WHERE doc_id % 10 = 0"
)


def q_rendezvous(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous/HRW sharding (webx/sampling.py rendezvous_assign) at
    8 and 9 shards side by side: the moved flag demonstrates — and the
    oracle verifies row-by-row — that adding a shard moves only the
    keys the new shard wins (~1/9), where modulo sharding would move
    ~8/9. Pure scan-side codegen, zero shuffle."""
    from webx.sampling import rendezvous_assign

    docs = synth.load_documents(spark, sf).select("doc_id")
    a = rendezvous_assign(docs, "doc_id", range(8), out_col="shard_a")
    both = rendezvous_assign(a, "doc_id", range(9), out_col="shard_b")
    return both.select(
        "doc_id",
        "shard_a",
        "shard_b",
        (F.col("shard_a") != F.col("shard_b")).alias("moved"),
    )


def q_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (webx/cdc.py): gear rolling hash over a
    64-byte window, boundary where the top 6 bits vanish (expected
    64-byte chunks). Integer-only output; the oracle replays every hash
    from the same 256 gear literals in HUGEINT mod-2^64 arithmetic."""
    from webx.cdc import cdc_chunks

    return cdc_chunks(_docs_with_shifted_twins(spark, sf), nbits=6).select(
        "doc_id", "chunk_idx", "start", "length"
    )


def q_cdc_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-level dedup over the CDC chunks: per document, how many
    chunks (and bytes) also occur in OTHER documents. The planted
    prefix-shifted twins prove the shift-robustness claim — their tails
    dedupe despite every byte offset moving by 14. Spark groups on
    xxhash64(chunk) (the 8-byte wire key used at crawl scale); the
    oracle groups on chunk content (equal barring 64-bit collision)."""
    from webx.cdc import cdc_chunks, cdc_dedup_stats

    return cdc_dedup_stats(cdc_chunks(_docs_with_shifted_twins(spark, sf), nbits=6))


def _emb_with_planted(spark, sf):
    emb = _emb(spark, sf).select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    # both branches are already split (_emb repartitions the one-file
    # scan), so the union needs no further exchange
    return emb.unionByName(planted)


def q_neardup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup via the default LSH-candidate + exact-
    rerank path (no driver collect). The oracle is the exact all-pairs
    truth: equality holds because the only ≥0.95 pairs in this corpus
    are the planted COLLINEAR copies (cos = 1), which every hyperplane
    table buckets together — LSH recall is exactly 1 for them. On data
    with pairs near the 0.95 boundary the LSH path is approximate
    (recall ≈ 0.96 at the boundary, see cosine_neardup_pairs); exactness
    on arbitrary data needs method="exact"."""
    return (
        cosine_neardup_pairs(_emb_with_planted(spark, sf), threshold=0.95)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


def q_media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: binary payloads through an Arrow mapInPandas
    feature extractor (deterministic fake codec, webx/media.py)."""
    return media_features(synth_media(spark, sf)).select(
        "media_id", "kind", "n_bytes", "byte_sum"
    )


def q_image_headers(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image-header metadata: synth payloads carry spec-exact
    JPEG/PNG/GIF/WebP(vp8/vp8l/vp8x) headers built from closed-form dims,
    and the engine recovers (fmt, width, height, valid) by actually
    parsing the bytes (webx/media.py sniff_image_meta — marker walk,
    IHDR chunk, RIFF fourcc; the DecodeImage analog of
    mindocr/data/transforms/general_transforms.py:35-46). Every 17th
    payload is truncated to one byte → fmt NULL, valid false. The oracle
    replays the arithmetic the generators were handed; only a correct
    parse reproduces it."""
    from webx.media import image_meta, synth_image_files

    return image_meta(synth_image_files(spark, sf))


def q_audio_headers(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio-header metadata, the q_image_headers sibling: synth
    payloads carry spec-exact WAV (RIFF fmt chunk walk), FLAC
    (STREAMINFO 20-bit pack) and MPEG-1 Layer III frame headers, and the
    engine recovers (fmt, sample_rate, channels, valid) by parsing the
    bytes (webx/media.py sniff_audio_meta). Every 13th payload truncates
    to one byte -> fmt NULL, valid false. Oracle replays the closed-form
    arithmetic the generators were handed."""
    from webx.media import audio_meta, synth_audio_files

    return audio_meta(synth_audio_files(spark, sf))


def q_video_headers(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video-container metadata, completing the image/audio/video
    header triad: synth payloads are spec-exact ISO-BMFF MP4s (ftyp +
    moov/mvhd/trak/tkhd, both 32- and 64-bit box layouts, an audio
    track with 0x0 dims the scan must skip) and the engine recovers
    (fmt, width, height, duration_ms, valid) by walking the real box
    structure (webx/media.py sniff_video_meta). Every 19th payload
    truncates to one byte. Oracle replays the closed-form arithmetic."""
    from webx.media import synth_video_files, video_meta

    return video_meta(synth_video_files(spark, sf))


def _mixed_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """(url, payload) heterogeneous capture corpus by doc_id % 6:
    flagship HTML page / PDF (full mixed layout incl. encrypted +
    xref-stream) / PNG with closed-form dims / plain text / WAV with
    closed-form rate+channels / MP4 with closed-form dims+duration."""
    from webx.media import mp4_bytes, png_bytes, wav_bytes

    docs = synth.load_documents(spark, sf)
    r = F.col("doc_id") % 6
    pages = synth.flagship_pages_from_docs(docs.filter(r == 0)).select(
        "url", F.col("html").alias("payload")
    )
    pdfs = synth.synth_pdfs(spark, sf, docs=docs.filter(r == 1)).select(
        "url", F.col("pdf").alias("payload")
    )

    bin_schema = "url string, payload binary"

    def mk_bin(batches):
        import pandas as pd

        for p in batches:
            payloads = []
            for d in p["doc_id"]:
                d = int(d)
                if d % 6 == 2:
                    payloads.append(png_bytes(64 + d % 193, 48 + d % 129))
                elif d % 6 == 4:
                    payloads.append(
                        wav_bytes([8000, 16000, 22050, 44100, 48000][d % 5],
                                  1 + d % 2)
                    )
                else:  # 5: video
                    payloads.append(
                        mp4_bytes(64 + d % 193, 48 + d % 129,
                                  1000 + (d % 89) * 250)
                    )
            yield pd.DataFrame({"url": p["url"], "payload": payloads})

    bins = (
        docs.filter(r.isin(2, 4, 5))
        .select(synth._url().alias("url"), "doc_id")
        .mapInPandas(mk_bin, schema=bin_schema)
    )
    others = docs.filter(r == 3).select(
        synth._url().alias("url"), F.encode("text", "utf-8").alias("payload")
    )
    return pages.unionByName(pdfs).unionByName(bins).unionByName(others)


def q_extract_mixed(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-corpus routed extraction (webx/route.py extract_mixed) —
    the crawl-archive reality: ONE capture stream carrying HTML pages,
    PDFs (the full mixed layout incl. encrypted + xref-stream forms),
    PNG images, plain text, WAV audio and MP4 video, dispatched per row
    on MAGIC BYTES inside a single Arrow pass into the existing lane
    kernels. The html lane must stay byte-identical to the flagship,
    the pdf lane to the PDF golden, image/audio/video rows yield
    closed-form header metadata, and text rows route to kind='other'
    with nothing lost."""
    from webx.route import extract_mixed

    return extract_mixed(_par(_mixed_corpus(spark, sf), spark))


def q_extract_warc_mixed(spark: SparkSession, sf: str) -> DataFrame:
    """The full container-to-lanes composition: the heterogeneous
    corpus above serialized into WARC shards (distributed fixture
    write, cached per sf fingerprint), read back through the
    distributed WARC source, then routed per record by MAGIC BYTES —
    every Content-Type header in the archive lies ('text/html' for
    PDFs and images), which is exactly the crawl reality the
    routing-by-bytes policy exists for. Same oracle as
    q_extract_mixed: the container round-trip must be invisible."""
    import hashlib
    import os
    from datetime import datetime, timezone

    from webx.route import extract_mixed
    from webx.sources import read_warc, write_warc

    srcp = os.path.join(sf, "documents.parquet")
    st = os.stat(srcp)
    key = hashlib.md5(
        f"{sf}:{st.st_mtime_ns}:{st.st_size}:mixed2".encode()
    ).hexdigest()[:10]
    d = f"/tmp/webx_warcmixed_{key}"
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        import pandas as pd
        from pyspark import TaskContext

        ts = datetime(2026, 1, 1, tzinfo=timezone.utc)

        def write_shard(batches):
            recs = []
            for p in batches:
                recs.extend(
                    (u, ts, bytes(b)) for u, b in zip(p["url"], p["payload"])
                )
            pid = TaskContext.get().partitionId()
            path = os.path.join(d, f"part-{pid}.warc")
            with open(path, "wb") as f:
                f.write(write_warc(recs))
            yield pd.DataFrame({"path": [path], "n": [len(recs)]})

        (
            _mixed_corpus(spark, sf)
            .repartition(8)
            .mapInPandas(write_shard, "path string, n long")
            .collect()
        )
        with open(os.path.join(d, "_DONE"), "w") as f:
            f.write("ok")
    captures = read_warc(spark, os.path.join(d, "part-*.warc")).select(
        "url", F.col("html").alias("payload")
    )
    return extract_mixed(captures)


def q_orders_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Relational coverage: broadcast dim join + partial/final agg."""
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    customer = spark.read.parquet(f"{sf}/customer.parquet")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
        )
    )


def q_registrable_domain(spark: SparkSession, sf: str) -> DataFrame:
    """Public-suffix-aware domain grouping (webx/urls.py
    registrable_domain): per-DOMAIN caps and crawl budgets need eTLD+1,
    not the raw host — "a.co.uk" and "b.co.uk" are different owners
    while "a.example.com" and "b.example.com" are one. Deterministic
    host mix exercises multi-label PSL suffixes (bbc.co.uk,
    example.com.au), private-section entries (github.io where every
    subdomain is a different user), plain eTLD+1 collapsing, and
    single-label hosts. Pure codegen (split/slice/isin); the oracle
    recomputes the suffix logic independently over the same hosts."""
    from webx.urls import registrable_domain

    docs = synth.load_documents(spark, sf).select("doc_id")
    m = F.col("doc_id") % 6
    h = (
        F.when(m == 0, F.concat(F.lit("news"), (F.col("doc_id") % 3).cast("string"),
                                F.lit(".bbc.co.uk")))
        .when(m == 1, F.concat(F.lit("sub"), (F.col("doc_id") % 4).cast("string"),
                               F.lit(".example.com")))
        .when(m == 2, F.concat(F.lit("blog"), (F.col("doc_id") % 2).cast("string"),
                               F.lit(".github.io")))
        .when(m == 3, F.lit("shop.example.com.au"))
        .when(m == 4, F.concat(F.lit("bucket"), (F.col("doc_id") % 3).cast("string"),
                               F.lit(".s3.amazonaws.com")))
        .otherwise(F.lit("localhost"))
    )
    url = F.concat(F.lit("https://"), h, F.lit("/doc/"), F.col("doc_id").cast("string"))
    df = docs.select(F.col("doc_id"), h.alias("host"), url.alias("url"))
    return (
        df.select("host", registrable_domain("url").alias("rdomain"))
        .groupBy("rdomain")
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def _registrable_domain_oracle_sql() -> str:
    from webx.urls import _PSL2, _PSL3

    psl2 = ", ".join(f"'{s}'" for s in _PSL2)
    psl3 = ", ".join(f"'{s}'" for s in _PSL3)
    return (
        "WITH h AS (SELECT doc_id, CASE CAST(doc_id % 6 AS INT) "
        "WHEN 0 THEN 'news' || CAST(doc_id % 3 AS VARCHAR) || '.bbc.co.uk' "
        "WHEN 1 THEN 'sub' || CAST(doc_id % 4 AS VARCHAR) || '.example.com' "
        "WHEN 2 THEN 'blog' || CAST(doc_id % 2 AS VARCHAR) || '.github.io' "
        "WHEN 3 THEN 'shop.example.com.au' "
        "WHEN 4 THEN 'bucket' || CAST(doc_id % 3 AS VARCHAR) || '.s3.amazonaws.com' "
        "ELSE 'localhost' END AS host FROM documents), "
        "r AS (SELECT host, string_split(host, '.') AS p FROM h), "
        "d AS (SELECT host, CASE WHEN len(p) <= 2 THEN host "
        f"WHEN len(p) >= 3 AND (p[-3] || '.' || p[-2] || '.' || p[-1]) IN ({psl3}) "
        "THEN (CASE WHEN len(p) = 3 THEN host "
        "ELSE p[-4] || '.' || p[-3] || '.' || p[-2] || '.' || p[-1] END) "
        f"WHEN (p[-2] || '.' || p[-1]) IN ({psl2}) "
        "THEN p[-3] || '.' || p[-2] || '.' || p[-1] "
        "ELSE p[-2] || '.' || p[-1] END AS rdomain FROM r) "
        "SELECT rdomain, COUNT(*) AS n_pages, "
        "COUNT(DISTINCT host) AS n_hosts FROM d GROUP BY rdomain"
    )


def q_url_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization ops (webx/urls.py) over deterministically
    messy urls; the oracle states the expected canonical form closed-form
    (generate-input-from-expected-output)."""
    from webx.urls import with_url_features

    docs = synth.load_documents(spark, sf)
    h = (F.col("doc_id") % 7).cast("string")
    i = F.col("doc_id").cast("string")
    messy = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTP://USER@H"), h, F.lit(".Example.COM:80/Post/"), i,
                     F.lit("/Comments?x=1#sec")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://H"), h, F.lit(".example.com:443/")),
        )
        .otherwise(F.concat(F.lit("https://h"), h, F.lit(".example.com/doc/"), i, F.lit("#frag")))
    )
    df = docs.select("doc_id", messy.alias("url"))
    return with_url_features(df).select(
        "doc_id", "url_norm", "url_host", "url_depth", "url_tld"
    )


def q_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (data selection):
    target = every 97th doc. The driver-gated columns are the exact
    integer bucket-count masses (engine-order-independent); the float
    log_weight itself is pytest-checked (float sums are fold-order-
    dependent across engines)."""
    from webx.curate import importance_weights

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    target = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return importance_weights(docs, target, buckets=10_000).select(
        "doc_id", "n_grams", "t_mass", "r_mass"
    )



def q_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality scoring: add-one-smoothed bigram LM
    trained on the clean slice (every 97th doc, the DSIR target),
    every document scored by token-level cross-entropy. Driver-gated
    columns are the exact integer matched-count masses (engine-order-
    independent); the float logprob/ppl are pytest-checked."""
    from webx.curate import lm_perplexity

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    train = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return lm_perplexity(docs, train).select(
        "doc_id", "n_bigrams", "bg_mass", "ctx_mass"
    )



def q_c4_clean(spark: SparkSession, sf: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) over a deterministic
    multi-line page built per doc (the raw synth text is single-line):
    line 2 lacks terminal punctuation, line 4 is under 5 words — both
    always dropped; line 5 exists only for doc_id % 5 != 0 (min-lines
    rule binding); doc_id % 7 == 0 injects 'lorem ipsum', % 11 == 0
    injects a curly brace. Exercises every rule in one gate."""
    from webx.curate import c4_clean

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    page = F.concat(
        F.lit("An introductory line with six words."),
        F.lit("\n"),
        F.substring("text", 1, 40),
        F.lit("\n"),
        F.lit("The second real sentence has seven words!"),
        F.lit("\nshort line."),
        F.when(
            F.col("doc_id") % 5 != 0,
            F.lit("\nA third proper sentence ends right here?"),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("\nlorem ipsum")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit("\ncode { x }")).otherwise(
            F.lit("")
        ),
    )
    return c4_clean(docs.select("doc_id", page.alias("text")))



def q_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring corpus dedup (Lee et al. 2022) relationalized:
    per-doc duplicated k-token window counts and merged span counts,
    k=3 so the synth vocabulary yields a real mixed dup/unique split.
    Exact string windows here (full value oracle); the hashed scale
    variant is differentially pytest-checked."""
    from webx.dedup import duplicate_spans

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return duplicate_spans(docs, k=3)



def q_suffix_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Suffix-array exact-substring duplication (webx/suffix.py): the
    REAL data structure of Lee et al. 2022 (q_dup_spans is its k-window
    relaxation) — distributed prefix doubling (O(log L) sort+join
    rounds, dense ranks assigned by range-partition + offset, never a
    single-task window), then cross-document duplicated passages ≥ 20
    chars from SA ADJACENCY (every maximal repeat witnesses there; no
    pair explosion). The oracle replays the doubling stages as unrolled
    dense_rank CTEs and the LCP binary cascade as the same nested
    accumulator chain — integer-exact end to end."""
    from webx.suffix import adjacent_dup_pairs

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    # base=24: one doubling stage covers the 48-char depth — at this
    # comparison depth the round count IS the cost; deeper arrays grow
    # rounds logarithmically (the module default base=8 keeps the
    # general shape)
    return adjacent_dup_pairs(docs, min_lcp=20, max_chars=48, lcp_cap=32, base=24)


def _sa_oracle_ctes(src_sql: str, max_chars: int, base: int) -> "list[str]":
    """The suffix-array prefix-doubling replay as named CTEs ending in
    ``sar`` (doc_id, pos, s, sa) — shared by every SA-family oracle;
    mirrors webx/suffix.py suffix_array stage for stage."""
    ctes = [
        (
            "s0 AS (SELECT doc_id, pos, "
            f"substr(t, pos, {max_chars}) AS s, "
            f"dense_rank() OVER (ORDER BY substr(t, pos, {base})) AS rank "
            "FROM (SELECT doc_id, t, "
            "unnest(generate_series(1, length(t))) AS pos "
            f"FROM (SELECT doc_id, substr(text, 1, {max_chars}) AS t "
            f"FROM ({src_sql}))))"
        )
    ]
    width, k = base, 0
    while width < max_chars:
        ctes.append(
            f"s{k + 1} AS (SELECT doc_id, pos, s, "
            "dense_rank() OVER (ORDER BY rank, rank2) AS rank "
            f"FROM (SELECT a.doc_id, a.pos, a.s, a.rank, "
            "coalesce(b.rank, 0) AS rank2 "
            f"FROM s{k} a LEFT JOIN s{k} b "
            f"ON a.doc_id = b.doc_id AND b.pos = a.pos + {width}))"
        )
        width *= 2
        k += 1
    ctes.append(
        "sar AS (SELECT doc_id, pos, s, "
        "row_number() OVER (ORDER BY rank, doc_id, pos) AS sa "
        f"FROM s{k})"
    )
    return ctes


def _suffix_dups_oracle_sql() -> str:
    from webx.suffix import lcp_chain_sql

    max_chars, min_lcp, cap = 48, 20, 32
    ctes = _sa_oracle_ctes("SELECT doc_id, text FROM documents", max_chars, 24)
    ctes.append(
        "adj AS (SELECT l.doc_id AS d1, l.s AS s1, r.doc_id AS d2, r.s AS s2 "
        "FROM sar l JOIN sar r ON r.sa = l.sa - 1 "
        "WHERE l.doc_id <> r.doc_id)"
    )
    scored = lcp_chain_sql("SELECT * FROM adj", "s1", "s2", cap)
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT least(d1, d2) AS id_a, greatest(d1, d2) AS id_b, "
        "CAST(max(lcp) AS BIGINT) AS max_lcp, "
        "CAST(count(*) AS BIGINT) AS n_adj "
        f"FROM ({scored}) WHERE lcp >= {min_lcp} GROUP BY 1, 2"
    )


def q_dup_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document duplicated-content profile (webx/suffix.py
    dup_profile): for each doc, how many suffix positions start a
    ≥20-char substring that also occurs ELSEWHERE in the corpus —
    max(lcp(prev), lcp(next)) over SA neighbors, the Lee et al. 2022
    duplicated-fraction statistic behind "drop documents that are
    mostly duplicated text". Two shifted equi-joins + one aggregate on
    top of the suffix array; all integers, full oracle."""
    from webx.suffix import dup_profile

    docs = _par(
        synth.load_documents(spark, sf)
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 2 == 0),
        spark,
    )
    return dup_profile(docs, min_lcp=20, max_chars=48, lcp_cap=32, base=24)


def _dup_profile_oracle_sql() -> str:
    from webx.suffix import lcp_chain_sql

    max_chars, min_lcp, cap = 48, 20, 32
    ctes = _sa_oracle_ctes(
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0",
        max_chars,
        24,
    )
    ctes.append(
        "adj AS (SELECT c.doc_id, c.s AS s0, "
        "coalesce(n.s, '') AS sn, coalesce(p.s, '') AS sp "
        "FROM sar c LEFT JOIN sar n ON n.sa = c.sa + 1 "
        "LEFT JOIN sar p ON p.sa = c.sa - 1)"
    )
    q1 = lcp_chain_sql(
        "SELECT * FROM adj", "s0", "sn", cap,
        keep="doc_id, s0, sp, lcp AS ln",
    )
    q2 = lcp_chain_sql(q1, "s0", "sp", cap, keep="doc_id, ln, lcp AS lp")
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos, "
        f"CAST(SUM(CASE WHEN greatest(ln, lp) >= {min_lcp} "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_dup "
        f"FROM ({q2}) GROUP BY doc_id"
    )


def q_anchor_index(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-text index over the flagship corpus: every page carries
    the 10 fixed chrome anchors, all same-host, so per (resolved,
    anchor) the ref count equals the host's page count and the source
    host count is 1 — stated closed-form by the oracle."""
    from webx.urls import anchor_text_index, extract_anchors

    pages = _pages(spark, sf)
    return anchor_text_index(extract_anchors(pages))



def q_dup_span_removal(spark: SparkSession, sf: str) -> DataFrame:
    """ExactSubstr removal (Lee et al. 2022): keep the corpus-first
    occurrence of every duplicated 3-token window, delete later ones,
    rebuild each document from surviving tokens. Full value oracle
    (rank window + coverage anti-join replayed in SQL)."""
    from webx.dedup import remove_duplicate_spans

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return remove_duplicate_spans(docs, k=3)


def q_extract_links(spark: SparkSession, sf: str) -> DataFrame:
    """Outlink extraction over the flagship pages (webx/urls.py): every
    page carries the 10 fixed chrome links, all root-relative — the
    oracle states the resolved forms closed-form. Pure codegen, one
    explode, zero Python."""
    from webx.urls import extract_links

    pages = _pages(spark, sf)
    return extract_links(pages)


def q_base_href(spark: SparkSession, sf: str) -> DataFrame:
    """``<base href>`` resolution (webx/urls.py effective_base_from): pages
    rotate through no-base / absolute / root-relative / document-
    relative base elements; relative hrefs must resolve against the
    declared base, root-relative ones against the BASE's origin (a
    cross-origin base redirects them off-host — the real-crawl trap),
    absolute hrefs and fragments are base-immune. Pure codegen; the
    oracle states every resolution closed-form."""
    from webx.urls import extract_links

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 4
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = F.concat(origin, F.lit("/sec/"), i, F.lit("/index.html"))
    base_tag = (
        F.when(m == 1, F.lit('<base href="https://cdn.example.org/assets/">'))
        .when(m == 2, F.lit('<base href="/deep/dir/">'))
        .when(m == 3, F.lit('<base href="docs/">'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"), base_tag, F.lit("</head><body>"),
        F.lit('<a href="rel.html">r</a><a href="/root.html">o</a>'),
        F.lit('<a href="https://x.test/abs">a</a><a href="#top">f</a>'),
        F.lit("</body></html>"),
    )
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return extract_links(pages)


def _base_href_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS m, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS origin, "
        "'/sec/' || CAST(doc_id AS VARCHAR) || '/' AS pagedir FROM documents), "
        "b AS (SELECT doc_id, m, origin, origin || pagedir || 'index.html' AS url, "
        # the directory relative hrefs resolve against, per base mode
        "CASE m WHEN 1 THEN 'https://cdn.example.org/assets/' "
        "WHEN 2 THEN origin || '/deep/dir/' "
        "WHEN 3 THEN origin || pagedir || 'docs/' "
        "ELSE origin || pagedir END AS bdir, "
        # the ORIGIN of the effective base (root-relative hrefs use it)
        "CASE m WHEN 1 THEN 'https://cdn.example.org' ELSE origin END AS borigin, "
        # the base element's own raw href (extract_links emits it too)
        "CASE m WHEN 1 THEN 'https://cdn.example.org/assets/' "
        "WHEN 2 THEN '/deep/dir/' WHEN 3 THEN 'docs/' END AS braw FROM d), "
        # the base tag's own href row, resolved against the effective base
        "baserow AS (SELECT url, braw AS href, "
        "CASE m WHEN 1 THEN braw WHEN 2 THEN origin || '/deep/dir/' "
        "ELSE bdir || 'docs/' END AS resolved FROM b WHERE m <> 0), "
        "bodyrows AS ("
        "SELECT url, 'rel.html' AS href, bdir || 'rel.html' AS resolved FROM b "
        "UNION ALL SELECT url, '/root.html', borigin || '/root.html' FROM b "
        "UNION ALL SELECT url, 'https://x.test/abs', 'https://x.test/abs' FROM b "
        "UNION ALL SELECT url, '#top', NULL FROM b) "
        "SELECT url, href, resolved FROM baserow "
        "UNION ALL SELECT url, href, resolved FROM bodyrows"
    )


def q_template_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """Page-template clustering (webx/metadata.template_fingerprint):
    the edge corpus mixes the flagship article template with the
    boiler-only template (doc_id%5==0); per host each page lands in
    exactly one of the two fingerprint families, content-independent.
    Oracle recomputes both xxhash64 fingerprints EXACTLY (XXH64 DuckDB
    port over the template tag sequences derived from the same frozen
    parts)."""
    from webx.metadata import template_fingerprint
    from webx.urls import host

    pages = synth.synth_pages_edge(spark, sf)
    fp = template_fingerprint(pages)
    return (
        fp.groupBy(host(F.col("url")).alias("host"), "template_fp")
        .agg(F.count("*").alias("n_pages"))
    )


def _template_cluster_oracle_sql() -> str:
    import re as _r

    from webx import oracles as _o
    from webx.synth import (
        BOILER_ONLY_BODY, P_CHROME, P_HEAD_UTF8, P_MID, P_TAIL,
    )

    def seq(parts) -> str:
        return ",".join(
            m.group(1).lower()
            for p in parts
            for m in _r.finditer(r"</?([a-zA-Z][a-zA-Z0-9]*)", p)
        )

    full = seq([P_HEAD_UTF8, P_CHROME, P_MID, P_TAIL])
    boiler = seq([P_HEAD_UTF8, BOILER_ONLY_BODY])
    return _o.XXH64_MACROS + (
        f"WITH tv(kind, s) AS (VALUES ('full', '{full}'), ('boiler', '{boiler}')), "
        + _o.xxh64_str_ctes("tv", "kind", "s", "th")
        + ", d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'boiler' "
        "ELSE 'full' END AS kind, "
        "'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host "
        "FROM documents) "
        "SELECT d.host, xsigned(th.h) AS template_fp, COUNT(*) AS n_pages "
        "FROM d JOIN th USING (kind) GROUP BY d.host, xsigned(th.h)"
    )


def q_url_templates(spark: SparkSession, sf: str) -> DataFrame:
    """URL pattern mining + crawl-trap gating (webx/urls
    url_path_template / url_trap_signals): numeric ids → {n}, long hex
    ids → {h}; repeat-segment, depth, and query-param-explosion flags.
    The frontier hygiene that caps infinite facet/calendar spaces
    before they eat the crawl budget."""
    from webx.urls import url_path_template, url_trap_signals

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 5
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = (
        F.when(m == 0, F.concat(origin, F.lit("/article/"), i, F.lit("/comments")))
        .when(m == 1, F.concat(origin, F.lit("/img/ab"), i, F.lit("f00d00/view")))
        .when(m == 2, F.concat(origin, F.lit("/cat/cat/page/"), i))
        .when(m == 3, F.concat(origin, F.lit("/a/b/c/d/e/f/g/h/x/"), i))
        .otherwise(F.concat(origin, F.lit("/s/"), i,
                            F.lit("?a=1&b=2&c=3&d=4&e=5&f=6")))
    )
    d = docs.select("doc_id", url.alias("url"))
    out = url_trap_signals(d)
    return out.select(
        "doc_id",
        url_path_template(F.col("url")).alias("template"),
        "trap_repeat", "trap_depth", "trap_params", "is_trap",
    )


def _url_templates_oracle_sql() -> str:
    return (
        "SELECT doc_id, "
        "CASE CAST(doc_id % 5 AS INT) "
        "WHEN 0 THEN '/article/{n}/comments' "
        "WHEN 1 THEN '/img/{h}/view' "
        "WHEN 2 THEN '/cat/cat/page/{n}' "
        "WHEN 3 THEN '/a/b/c/d/e/f/g/h/x/{n}' "
        "ELSE '/s/{n}' END AS template, "
        "CAST(doc_id % 5 AS INT) = 2 AS trap_repeat, "
        "CAST(doc_id % 5 AS INT) = 3 AS trap_depth, "
        "CAST(doc_id % 5 AS INT) = 4 AS trap_params, "
        "CAST(doc_id % 5 AS INT) IN (2, 3, 4) AS is_trap "
        "FROM documents"
    )


def q_pagination(spark: SparkSession, sf: str) -> DataFrame:
    """Pagination rails (webx/urls.pagination_links): middle pages
    declare both next and prev (relative — base-resolved), first pages
    only next, last pages only PREVIOUS (the long-form token, uppercase
    rel), and standalone pages neither. The stitching signal that keeps
    multi-page articles whole before packing."""
    from webx.urls import pagination_links

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 4
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = F.concat(origin, F.lit("/a/"), i, F.lit("/p2"))
    head = (
        F.when(m == 0, F.concat(
            F.lit('<link rel="next" href="/a/'), i, F.lit('/p3">'),
            F.lit("<link rel='prev' href='/a/"), i, F.lit("/p1'>")))
        .when(m == 1, F.concat(
            F.lit('<link rel="next" href="p3">')))
        .when(m == 2, F.concat(
            F.lit('<LINK REL="PREVIOUS" HREF="/a/'), i, F.lit('/p1">')))
        .otherwise(F.lit(""))
    )
    html = F.concat(F.lit("<html><head>"), head,
                    F.lit("</head><body>t</body></html>"))
    pages = docs.select("doc_id", url.alias("url"),
                        F.encode(html, "UTF-8").alias("html"))
    return pagination_links(pages).select("doc_id", "next_url", "prev_url")


def _pagination_oracle_sql() -> str:
    return (
        "SELECT doc_id, "
        "CASE CAST(doc_id % 4 AS INT) "
        "WHEN 0 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || "
        "'.example.com/a/' || CAST(doc_id AS VARCHAR) || '/p3' "
        "WHEN 1 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || "
        "'.example.com/a/' || CAST(doc_id AS VARCHAR) || '/p3' "
        "ELSE '' END AS next_url, "
        "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/a/' || "
        "CAST(doc_id AS VARCHAR) || '/p1' "
        "WHEN 2 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || "
        "'.example.com/a/' || CAST(doc_id AS VARCHAR) || '/p1' "
        "ELSE '' END AS prev_url FROM documents"
    )


def q_feed_links(spark: SparkSession, sf: str) -> DataFrame:
    """Feed autodiscovery (webx/urls.feed_links): rss / atom / both /
    none per residue class, attr orders and quoting rotated; a plain
    stylesheet link never matches. The crawl edge that connects the
    page corpus to the feeds lane."""
    from webx.urls import feed_links

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 4
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = F.concat(origin, F.lit("/p/"), i)
    rss = F.concat(
        F.lit('<link rel="alternate" type="application/rss+xml" href="/feed/'),
        i, F.lit('.rss">'))
    atom = F.concat(
        F.lit("<link type='application/atom+xml' href='"), origin,
        F.lit("/atom/"), i, F.lit(".xml' rel='alternate'>"))
    head = (
        F.when(m == 0, rss)
        .when(m == 1, atom)
        .when(m == 2, F.concat(rss, atom))
        .otherwise(F.lit('<link rel="stylesheet" href="/site.css">'))
    )
    html = F.concat(F.lit("<html><head>"), head,
                    F.lit("</head><body>t</body></html>"))
    pages = docs.select("doc_id", url.alias("url"),
                        F.encode(html, "UTF-8").alias("html"))
    return feed_links(pages).join(
        docs.select("doc_id", url.alias("url")), "url"
    ).select("doc_id", "feed_kind", "feed_url")


def _feed_links_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS m, "
        "CAST(doc_id AS VARCHAR) AS i, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS o "
        "FROM documents) "
        "SELECT doc_id, 'rss' AS feed_kind, o || '/feed/' || i || '.rss' AS feed_url "
        "FROM d WHERE m IN (0, 2) "
        "UNION ALL SELECT doc_id, 'atom', o || '/atom/' || i || '.xml' "
        "FROM d WHERE m IN (1, 2)"
    )


def q_hreflang(spark: SparkSession, sf: str) -> DataFrame:
    """hreflang alternate clusters (webx/urls.hreflang_alternates) —
    the bitext-mining discovery signal: docs declare doc_id%4 language
    alternates (attr order and case rotated per lang; fr root-relative
    to exercise base resolution) plus an x-default on even docs;
    alternates without hreflang are dropped. One row per declaration,
    closed-form oracle."""
    from webx.urls import hreflang_alternates

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    nalts = F.col("doc_id") % 4
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = F.concat(origin, F.lit("/p/"), i)
    en = F.when(nalts > 0, F.concat(
        F.lit('<link rel="alternate" hreflang="en" href="'), origin,
        F.lit("/en/p/"), i, F.lit('">'))).otherwise(F.lit(""))
    fr = F.when(nalts > 1, F.concat(
        F.lit("<link href='/fr/p/"), i,
        F.lit("' hreflang='fr' rel='alternate'>"))).otherwise(F.lit(""))
    de = F.when(nalts > 2, F.concat(
        F.lit('<LINK REL="alternate" HREFLANG="DE" HREF="'), origin,
        F.lit("/de/p/"), i, F.lit('">'))).otherwise(F.lit(""))
    xd = F.when(F.col("doc_id") % 2 == 0, F.concat(
        F.lit('<link rel="alternate" hreflang="x-default" href="'), origin,
        F.lit("/p/"), i, F.lit('">'))).otherwise(F.lit(""))
    # an alternate WITHOUT hreflang (a feed link): must be dropped
    feed = F.lit('<link rel="alternate" type="application/rss+xml" href="/feed.xml">')
    html = F.concat(F.lit("<html><head>"), en, fr, de, xd, feed,
                    F.lit("</head><body>t</body></html>"))
    pages = docs.select("doc_id", url.alias("url"),
                        F.encode(html, "UTF-8").alias("html"))
    return hreflang_alternates(pages).join(
        docs.select("doc_id", url.alias("url")), "url"
    ).select("doc_id", "hreflang", "alt_url")


def _hreflang_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS nalts, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS o, "
        "CAST(doc_id AS VARCHAR) AS i FROM documents) "
        "SELECT doc_id, 'en' AS hreflang, o || '/en/p/' || i AS alt_url "
        "FROM d WHERE nalts > 0 "
        "UNION ALL SELECT doc_id, 'fr', o || '/fr/p/' || i FROM d WHERE nalts > 1 "
        "UNION ALL SELECT doc_id, 'de', o || '/de/p/' || i FROM d WHERE nalts > 2 "
        "UNION ALL SELECT doc_id, 'x-default', o || '/p/' || i FROM d "
        "WHERE doc_id % 2 = 0"
    )


def q_code_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Code-corpus mining (webx/metadata.code_blocks): pre+code with a
    language-python class and real indentation + escaped entities /
    pre-only with lang-c++ / no block, per residue class. Whitespace
    preserved VERBATIM (the opposite contract to the text lane) — the
    oracle asserts the exact newline-and-indent bytes."""
    from webx.metadata import code_blocks

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 3
    url = F.concat(F.lit("https://h"), k, F.lit(".example.com/p/"), i)
    body = (
        F.when(m == 0, F.concat(
            F.lit('<p>intro</p><pre><code class="language-python">'
                  "def f_"), i, F.lit("(x):\n    return x &lt; "), i,
            F.lit("\n</code></pre>")))
        .when(m == 1, F.concat(
            F.lit('<pre class="lang-c++">a &amp;&amp; b // case '), i,
            F.lit("</pre>")))
        .otherwise(F.lit("<p>no code</p>"))
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return code_blocks(pages)


def _code_blocks_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS m, "
        "CAST(doc_id AS VARCHAR) AS i, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS o "
        "FROM documents) "
        "SELECT o || '/p/' || i AS url, 0 AS block_idx, 'python' AS lang_hint, "
        "('def f_' || i || '(x):' || chr(10) || '    return x < ' || i) AS code, "
        "2 AS n_lines FROM d WHERE m = 0 "
        "UNION ALL SELECT o || '/p/' || i, 0, 'c++', "
        "('a && b // case ' || i), 1 FROM d WHERE m = 1"
    )


def q_math_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Math-aware extraction (webx/metadata.math_spans): MathML with an
    alttext TeX fallback / $$display$$ with internal spacing / \\(inline\\)
    / no math, per residue class — sources verbatim (the OpenWebMath
    contract: equations survive extraction byte-exact)."""
    from webx.metadata import math_spans

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 4
    url = F.concat(F.lit("https://h"), k, F.lit(".example.com/p/"), i)
    body = (
        F.when(m == 0, F.concat(
            F.lit('<math display="block" alttext="x^'), i,
            F.lit('"><msup><mi>x</mi><mn>'), i,
            F.lit("</mn></msup></math>")))
        .when(m == 1, F.concat(
            F.lit("<p>so $$ E_"), i, F.lit(" = m c^2 $$ holds</p>")))
        .when(m == 2, F.concat(
            F.lit("<p>where \\(a_"), i, F.lit(" + b\\) is small</p>")))
        .otherwise(F.lit("<p>no math</p>"))
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return math_spans(pages)


def _math_spans_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS m, "
        "CAST(doc_id AS VARCHAR) AS i, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS o "
        "FROM documents) "
        "SELECT o || '/p/' || i AS url, 'mathml' AS kind, 0 AS idx, "
        "('<msup><mi>x</mi><mn>' || i || '</mn></msup>') AS math, "
        "('x^' || i) AS alttext FROM d WHERE m = 0 "
        "UNION ALL SELECT o || '/p/' || i, 'display', 0, "
        "(' E_' || i || ' = m c^2 '), '' FROM d WHERE m = 1 "
        "UNION ALL SELECT o || '/p/' || i, 'inline', 0, "
        "('a_' || i || ' + b'), '' FROM d WHERE m = 2"
    )


def q_srcset(spark: SparkSession, sf: str) -> DataFrame:
    """Responsive-image resolution (webx/urls.image_srcset_best): the
    largest srcset candidate wins (800w over 480w/320w in any order;
    2x over a descriptorless 1x entry), resolved against the page;
    src-less retina imgs get a NULL fallback; imgs without srcset are
    not this lane's rows."""
    from webx.urls import image_srcset_best

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 3
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = F.concat(origin, F.lit("/p/"), i)
    body = (
        F.when(m == 0, F.concat(
            F.lit('<img srcset="/s/'), i, F.lit('-480.jpg 480w, /s/'), i,
            F.lit('-800.jpg 800w, /s/'), i, F.lit('-320.jpg 320w" src="/s/'),
            i, F.lit('.jpg" alt="Pic '), i, F.lit('">')))
        .when(m == 1, F.concat(
            F.lit('<img srcset="/d/'), i, F.lit(".jpg, /d/"), i,
            F.lit('@2x.jpg 2x" alt="Retina '), i, F.lit('">')))
        .otherwise(F.concat(F.lit('<img src="/plain/'), i,
                            F.lit('.jpg" alt="no srcset">')))
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return image_srcset_best(pages)


def _srcset_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS m, "
        "CAST(doc_id AS VARCHAR) AS i, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS o "
        "FROM documents) "
        "SELECT o || '/p/' || i AS url, o || '/s/' || i || '-800.jpg' AS best_src, "
        "o || '/s/' || i || '.jpg' AS fallback_src, 'Pic ' || i AS alt "
        "FROM d WHERE m = 0 "
        "UNION ALL SELECT o || '/p/' || i, o || '/d/' || i || '@2x.jpg', "
        "NULL, 'Retina ' || i FROM d WHERE m = 1"
    )


def q_media_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Audio/video discovery (webx/urls.media_sources): a direct-src
    video with poster / a multi-<source> video (per-codec variants; the
    src-less <video> shell contributes no row) / a bare audio / no
    media, per residue class. The fetch list a video-text dataset build
    starts from."""
    from webx.urls import media_sources

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 4
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = F.concat(origin, F.lit("/p/"), i)
    body = (
        F.when(m == 0, F.concat(
            F.lit('<video src="/v/'), i, F.lit('.mp4" poster="/v/'), i,
            F.lit('.jpg"></video>')))
        .when(m == 1, F.concat(
            F.lit("<video><source src='/v/"), i,
            F.lit(".webm' type='video/webm'><source src='/v/"), i,
            F.lit(".mp4' type='video/mp4'></video>")))
        .when(m == 2, F.concat(F.lit('<audio src="/a/'), i, F.lit('.mp3">')))
        .otherwise(F.lit("<p>no media</p>"))
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return media_sources(pages)


def _media_sources_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS m, "
        "CAST(doc_id AS VARCHAR) AS i, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS o "
        "FROM documents) "
        "SELECT o || '/p/' || i AS url, 'video' AS tag, "
        "o || '/v/' || i || '.mp4' AS media_url, '' AS mime, "
        "o || '/v/' || i || '.jpg' AS poster_url FROM d WHERE m = 0 "
        "UNION ALL SELECT o || '/p/' || i, 'source', o || '/v/' || i || '.webm', "
        "'video/webm', NULL FROM d WHERE m = 1 "
        "UNION ALL SELECT o || '/p/' || i, 'source', o || '/v/' || i || '.mp4', "
        "'video/mp4', NULL FROM d WHERE m = 1 "
        "UNION ALL SELECT o || '/p/' || i, 'audio', o || '/a/' || i || '.mp3', "
        "'', NULL FROM d WHERE m = 2"
    )


def q_interleaved(spark: SparkSession, sf: str) -> DataFrame:
    """MMC4/OBELICS-style interleaved documents (webx/pipeline.py
    run_interleave): the REAL two-stage extractor's text spans and the
    page's <img> occurrences merged in DOM order — the reading-order
    layout interleaved multimodal training data preserves. Fixture: the
    two-article page with a figure inside the link-farm divider (link
    density keeps the divider boiler; the img contributes no text), so
    each doc yields text / image / text with both span texts and the
    caption closed-form; src resolves JVM-side against the page url."""
    from webx.pipeline import run_interleave
    from webx.synth import (
        P_CHROME, P_HEAD_UTF8, P_MID, P_TAIL, _did, _esc, _norm,
    )
    from webx.urls import resolve_href

    docs = synth.load_documents(spark, sf)
    did, i = _did(), F.col("doc_id").cast("string")
    norm = _norm(F.col("text"))
    sep = F.concat(
        F.lit('</p></article><!-- figure --><div class="ad">'
              '<a href="/buy">Buy now</a> <img src="/im/'),
        i,
        F.lit('.jpg" alt="Figure\n  '),
        i,
        F.lit('"> <a href="/offer">Special offer</a> '
              '<a href="/deal">Deal</a></div><article><h2>Notes</h2><p>'),
    )
    html = F.concat(
        F.lit(P_HEAD_UTF8), did, F.lit(P_CHROME), did, F.lit(P_MID),
        _esc(norm), sep, _esc(F.upper(norm)), F.lit(P_TAIL),
    )
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/doc/"), i,
    )
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    out = run_interleave(_par(pages, spark))
    return out.select(
        "url", "seq", "kind", "text",
        F.when(
            F.col("src").isNotNull(), resolve_href(F.col("url"), F.col("src"))
        ).alias("img_url"),
        "alt",
    )


def _interleaved_oracle_sql() -> str:
    return (
        f"SELECT {URL} AS url, 0 AS seq, 'text' AS kind, "
        f"({DID} || {NL} || {NORM}) AS text, NULL AS img_url, NULL AS alt "
        "FROM documents "
        f"UNION ALL SELECT {URL}, 1, 'image', NULL, "
        "('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/im/' || "
        "CAST(doc_id AS VARCHAR) || '.jpg'), "
        "('Figure ' || CAST(doc_id AS VARCHAR)) FROM documents "
        f"UNION ALL SELECT {URL}, 2, 'text', "
        f"('Notes' || {NL} || upper({NORM})), NULL, NULL FROM documents"
    )


def q_image_context(spark: SparkSession, sf: str) -> DataFrame:
    """Context assignment over the interleaved sequence
    (webx/pipeline.image_contexts): each image gains the nearest text
    before and after it in reading order — the MMC4-style text-context
    pairing when no similarity model is in the loop. Same fixture as
    q_interleaved, so both contexts are closed-form; one window shuffle
    on url."""
    from webx.pipeline import image_contexts

    inter = q_interleaved(spark, sf).withColumnRenamed("img_url", "src")
    return image_contexts(inter).select(
        "url", "src", "alt", "context_before", "context_after"
    )


def _image_context_oracle_sql() -> str:
    return (
        f"SELECT {URL} AS url, "
        "('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/im/' || "
        "CAST(doc_id AS VARCHAR) || '.jpg') AS src, "
        "('Figure ' || CAST(doc_id AS VARCHAR)) AS alt, "
        f"({DID} || {NL} || {NORM}) AS context_before, "
        f"('Notes' || {NL} || upper({NORM})) AS context_after "
        "FROM documents"
    )


def q_image_captions(spark: SparkSession, sf: str) -> DataFrame:
    """LAION-style image-text pair mining (webx/urls.image_captions):
    docs rotate a captioned img with declared dims / an empty-alt img
    (dropped — the caption is the training signal) / a data: URI
    (dropped — not fetchable) / a base-resolved relative src with
    author-formatted alt (whitespace collapsed, dims NULL). The
    multimodal dataset source every image-text corpus build starts
    from; tiny-image filtering stays a plain predicate on width."""
    from webx.urls import image_captions

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 4
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = F.concat(origin, F.lit("/p/"), i)
    body = (
        F.when(m == 0, F.concat(
            F.lit('<img src="/img/'), i,
            F.lit('.jpg" alt="A photo of thing '), i,
            F.lit('" width="640" height="480">')))
        .when(m == 1, F.concat(F.lit('<img alt="" src="/img/'), i, F.lit('.jpg">')))
        .when(m == 2, F.lit('<img src="data:image/png;base64,AAAA" alt="inline">'))
        .otherwise(F.concat(
            F.lit('<base href="https://cdn.example.org/a/"><img src="t/'), i,
            F.lit('.png" ALT="Cat\n  '), i, F.lit('">')))
    )
    html = F.concat(F.lit("<html><body>"), body, F.lit("</body></html>"))
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    return image_captions(pages)


def _image_captions_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS m, "
        "CAST(doc_id AS VARCHAR) AS i, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS o "
        "FROM documents) "
        "SELECT o || '/p/' || i AS url, o || '/img/' || i || '.jpg' AS img_url, "
        "'A photo of thing ' || i AS alt, 640 AS width, 480 AS height "
        "FROM d WHERE m = 0 "
        "UNION ALL SELECT o || '/p/' || i, "
        "'https://cdn.example.org/a/t/' || i || '.png', 'Cat ' || i, NULL, NULL "
        "FROM d WHERE m = 3"
    )


def q_bitext_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Mutually-confirmed bitext pairs (webx/urls.bitext_pairs): every
    doc has an en page declaring a fr alternate (plus an x-default and
    a one-way de declaration to a page that never answers); the fr page
    declares back only for doc_id%3 != 0. Only the reciprocal pairs
    survive — the reciprocity gate bitext miners apply. Runs the full
    lane: html → hreflang_alternates → self-join confirmation."""
    from webx.urls import bitext_pairs, hreflang_alternates

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    p_url = F.concat(origin, F.lit("/p/"), i)
    q_url = F.concat(origin, F.lit("/fr/p/"), i)
    p_html = F.concat(
        F.lit('<link rel="alternate" hreflang="fr" href="/fr/p/'), i, F.lit('">'),
        F.lit('<link rel="alternate" hreflang="x-default" href="/p/'), i, F.lit('">'),
        F.lit('<link rel="alternate" hreflang="de" href="/de/p/'), i, F.lit('">'),
    )
    q_html = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(F.lit('<link rel="alternate" hreflang="en" href="/p/'), i,
                 F.lit('">')),
    ).otherwise(F.lit("<p>no declarations</p>"))
    pages = docs.select(p_url.alias("url"), F.encode(p_html, "UTF-8").alias("html")).unionByName(
        docs.select(q_url.alias("url"), F.encode(q_html, "UTF-8").alias("html"))
    )
    page_lang = docs.select(p_url.alias("url"), F.lit("en").alias("lang")).unionByName(
        docs.select(q_url.alias("url"), F.lit("fr").alias("lang"))
    )
    return bitext_pairs(hreflang_alternates(pages), page_lang)


def _bitext_pairs_oracle_sql() -> str:
    return (
        "SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/fr/p/' "
        "|| CAST(doc_id AS VARCHAR) AS url_a, 'fr' AS lang_a, "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' "
        "|| CAST(doc_id AS VARCHAR) AS url_b, 'en' AS lang_b "
        "FROM documents WHERE doc_id % 3 <> 0"
    )


def q_canonical_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """In-page redirect/dedup signals (webx/urls.rel_canonical +
    meta_refresh_target): rel=canonical (absolute and root-relative,
    attr order swapped) and meta-refresh targets (';' and ',' separator
    forms, inner-quoted, uppercase REFRESH, attrs in either order),
    both resolved against the page url; '' when absent. The canonical
    is THE group-by key crawl dedup applies before content hashing."""
    from webx.urls import meta_refresh_target, rel_canonical

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 5
    origin = F.concat(F.lit("https://h"), k, F.lit(".example.com"))
    url = F.concat(origin, F.lit("/p/"), i)
    head = (
        F.when(m == 0, F.concat(F.lit('<link rel="canonical" href="'),
                                origin, F.lit("/c/"), i, F.lit('">')))
        .when(m == 1, F.concat(F.lit("<link href='/c/"), i,
                               F.lit("' rel='canonical'>")))
        .when(m == 2, F.concat(F.lit('<meta http-equiv="refresh" '
                                     'content="0; url=/moved/'), i, F.lit('">')))
        .when(m == 3, F.concat(F.lit("<meta content=\"5, url='https://off.example.org/x/"),
                               i, F.lit("'\" HTTP-EQUIV='REFRESH'>")))
        .otherwise(F.lit(""))
    )
    html = F.concat(F.lit("<html><head>"), head,
                    F.lit("</head><body>text</body></html>"))
    pages = docs.select("doc_id", url.alias("url"),
                        F.encode(html, "UTF-8").alias("html"))
    return meta_refresh_target(rel_canonical(pages)).select(
        "doc_id", "canonical", "refresh_url"
    )


def _canonical_refresh_oracle_sql() -> str:
    return (
        "SELECT doc_id, "
        "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/c/' || CAST(doc_id AS VARCHAR) "
        "WHEN 1 THEN "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/c/' || CAST(doc_id AS VARCHAR) "
        "ELSE '' END AS canonical, "
        "CASE CAST(doc_id % 5 AS INT) WHEN 2 THEN "
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/moved/' || CAST(doc_id AS VARCHAR) "
        "WHEN 3 THEN 'https://off.example.org/x/' || CAST(doc_id AS VARCHAR) "
        "ELSE '' END AS refresh_url "
        "FROM documents"
    )


def q_nofollow_links(spark: SparkSession, sf: str) -> DataFrame:
    """Per-link rel hygiene (webx/urls.extract_anchors ``nofollow``):
    anchors rotate rel="nofollow" / rel='ugc me' / REL="SPONSORED
    noopener" / rel="noopener" / no rel — the three opt-out tokens mark
    the edge true, other rel values and bare anchors false. The count
    every endorsement-weighted link graph needs before PageRank."""
    from webx.urls import extract_anchors, host

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 5
    rel = (
        F.when(m == 0, F.lit(' rel="nofollow"'))
        .when(m == 1, F.lit(" rel='ugc me'"))
        .when(m == 2, F.lit(' REL="SPONSORED noopener"'))
        .when(m == 3, F.lit(' rel="noopener"'))
        .otherwise(F.lit(""))
    )
    url = F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                   F.lit(".example.com/p/"), i)
    html = F.concat(
        F.lit('<a href="https://t.example.org/x"'), rel, F.lit(">out</a>"),
        F.lit('<a href="/in">in</a>'),
    )
    pages = docs.select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))
    a = extract_anchors(pages)
    return (
        a.groupBy(host(F.col("url")).alias("src_host"), "nofollow")
        .agg(F.count("*").alias("n_links"))
    )


def _nofollow_links_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS m, "
        "'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS src_host "
        "FROM documents), "
        # outbound anchor: nofollow iff m in (0,1,2); inbound: always false
        "rows AS (SELECT src_host, m IN (0, 1, 2) AS nofollow FROM d "
        "UNION ALL SELECT src_host, false FROM d) "
        "SELECT src_host, nofollow, count(*) AS n_links "
        "FROM rows GROUP BY src_host, nofollow"
    )


def q_link_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level link graph (PageRank input): resolve → host pair →
    count. Flagship chrome links are same-host, so every host is a
    self-loop with 10 × its page count."""
    from webx.urls import extract_links, host_link_graph

    return host_link_graph(extract_links(_pages(spark, sf)))


def q_pagerank_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the extracted host graph plus a planted cross-host
    ring (h_k → h_(k+1), weighted by class size) — the iterative-
    algorithm category: a driver loop of relational iterations, no SQL
    oracle by design (the driver records the weaker rows-only check);
    pytest anchors the algorithm against an independent numpy power
    iteration at 1e-9."""
    from webx.graph import pagerank_hosts
    from webx.urls import extract_links, host_link_graph

    self_edges = host_link_graph(extract_links(_pages(spark, sf)))
    docs = synth.load_documents(spark, sf)
    hostname = lambda c: F.concat(F.lit("h"), c.cast("string"), F.lit(".example.com"))
    ring = docs.groupBy((F.col("doc_id") % 7).alias("k")).agg(
        F.count("*").alias("n_links")
    ).select(
        hostname(F.col("k")).alias("src_host"),
        hostname((F.col("k") + 1) % 7).alias("dst_host"),
        "n_links",
    )
    edges = self_edges.unionByName(ring)
    # 6 iterations: the gate exercises the iterative surface; convergence
    # depth is the pytest anchor's business (test_graph.py runs 10-12)
    return pagerank_hosts(edges, iterations=6).orderBy("host")


def q_pagerank_hosts_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact PageRank twin (webx/graph.py pagerank_hosts_int):
    same planted graph as q_pagerank_hosts, but rank is an integer mass
    and every step is floor-division + integer sums — order-independent,
    so this one has a FULL value oracle (6 iterations unrolled as DuckDB
    CTEs, the kmeans-oracle precedent applied to the float-unfriendly
    iterative graph category that was previously rows-only)."""
    from webx.graph import pagerank_hosts_int
    from webx.urls import extract_links, host_link_graph

    self_edges = host_link_graph(extract_links(_pages(spark, sf)))
    docs = synth.load_documents(spark, sf)
    hostname = lambda c: F.concat(F.lit("h"), c.cast("string"), F.lit(".example.com"))
    ring = docs.groupBy((F.col("doc_id") % 7).alias("k")).agg(
        F.count("*").alias("n_links")
    ).select(
        hostname(F.col("k")).alias("src_host"),
        hostname((F.col("k") + 1) % 7).alias("dst_host"),
        "n_links",
    )
    edges = self_edges.unionByName(ring)
    return pagerank_hosts_int(edges, iterations=6)


_TRUST_SEEDS = ["h0.example.com", "h3.example.com"]


def q_trustrank(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact TrustRank (webx/graph.py trustrank_int; Gyöngyi et
    al. 2004): PageRank's teleport restricted to two trusted seed hosts
    over the same planted self-loop + ring host graph — the crawl
    link-spam demotion signal (hosts only earn trust reachable from the
    vetted seeds). Same quantization discipline as
    q_pagerank_hosts_exact ⇒ full 6-iteration unrolled-CTE oracle."""
    from webx.graph import trustrank_int
    from webx.urls import extract_links, host_link_graph

    self_edges = host_link_graph(extract_links(_pages(spark, sf)))
    docs = synth.load_documents(spark, sf)
    hostname = lambda c: F.concat(F.lit("h"), c.cast("string"), F.lit(".example.com"))
    ring = docs.groupBy((F.col("doc_id") % 7).alias("k")).agg(
        F.count("*").alias("n_links")
    ).select(
        hostname(F.col("k")).alias("src_host"),
        hostname((F.col("k") + 1) % 7).alias("dst_host"),
        "n_links",
    )
    edges = self_edges.unionByName(ring)
    return trustrank_int(edges, _TRUST_SEEDS, iterations=6)


def q_redirect_chains(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP 3xx chain resolution by pointer doubling (webx/graph.py
    resolve_redirect_chains — O(log chain) shuffles, the crawl-graph op
    that collapses fetch-log redirects onto terminal URLs). Fixture:
    every doc plants a chain of 1 + doc_id%4 hops ending at its flagship
    URL; every 97th doc plants a 2-cycle (must come back unresolved).
    The oracle replays the SAME walk as a recursive CTE with the same
    hop cap — full value gate on final_url, hop counts, and loop
    detection."""
    from webx.graph import resolve_redirect_chains

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com"),
    )
    flagship = F.concat(base, F.lit("/doc/"), i)
    hops = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int"))
        ).alias("j"),
    )
    j = F.col("j").cast("string")
    chain_base = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com"),
    )
    chain = hops.select(
        F.concat(chain_base, F.lit("/r/"), i, F.lit("/"), j).alias("url"),
        F.when(
            F.col("j") < F.col("doc_id") % 4,
            F.concat(
                chain_base, F.lit("/r/"), i, F.lit("/"),
                (F.col("j") + 1).cast("string"),
            ),
        )
        .otherwise(F.concat(chain_base, F.lit("/doc/"), i))
        .alias("location"),
    )
    la = F.concat(base, F.lit("/loop/"), i, F.lit("/a"))
    lb = F.concat(base, F.lit("/loop/"), i, F.lit("/b"))
    loops = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.explode(
                F.array(
                    F.struct(la.alias("url"), lb.alias("location")),
                    F.struct(lb.alias("url"), la.alias("location")),
                )
            ).alias("e")
        )
        .select("e.url", "e.location")
    )
    return resolve_redirect_chains(chain.unionByName(loops), rounds=3)


def q_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-URL dedup (the crawl-frontier UF discipline): every doc
    appears under two surface forms that normalize identically; group on
    the canonical form, keep the lowest surface id. One shuffle on the
    canonical key."""
    from webx.urls import normalize_url

    docs = synth.load_documents(spark, sf)
    h = (F.col("doc_id") % 7).cast("string")
    i = F.col("doc_id").cast("string")
    messy = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTP://USER@H"), h, F.lit(".Example.COM:80/Post/"), i,
                     F.lit("/Comments?x=1#sec")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://H"), h, F.lit(".example.com:443/item/"), i),
        )
        .otherwise(F.concat(F.lit("https://h"), h, F.lit(".example.com/doc/"), i, F.lit("#frag")))
    )
    surfaces = docs.select(
        (F.col("doc_id") * 2).alias("surface_id"), messy.alias("url")
    ).unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("surface_id"),
            F.concat(messy, F.lit("#alt")).alias("url"),
        )
    )
    return (
        surfaces.groupBy(normalize_url("url").alias("url_norm"))
        .agg(
            F.count("*").alias("n_surfaces"),
            F.min("surface_id").alias("keep_id"),
        )
    )


def q_media_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame sampling (webx/media.py): payload split into n_frames
    chunks, every 2nd kept — frame sizes are closed-form arithmetic."""
    from webx.media import sample_frames

    frames = sample_frames(synth_media(spark, sf), every_n=2)
    return frames.select(
        "media_id", "frame_idx", F.octet_length("frame").alias("n_bytes")
    )


def q_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (webx/events.py): lag → flag → running
    sum → per-session agg, all window functions."""
    from webx.events import sessionize

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return sessionize(ev, gap_minutes=30)


def q_user_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user lifetime totals (webx/events.py user_rollup)."""
    from webx.events import user_rollup

    return user_rollup(spark.read.parquet(f"{sf}/events.parquet"))


def q_host_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host rollup of extraction output (the mega-host skew lens)."""
    out = run_extraction(_pages(spark, sf), CFG)
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    return out.groupBy(host.alias("host")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
    )


def q_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """KMV distinct-count sketch (webx/sketch.py): estimated distinct
    users per event_type from the 64 minimum hash values. Deterministic
    under the fixed hash ⇒ the oracle recomputes the ESTIMATE exactly
    (an engine-specific HLL could only be tolerance-checked)."""
    from webx.sketch import kmv_distinct

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return kmv_distinct(ev, "user_id", group_cols=("event_type",), k=64)


STRATA_FRACTIONS = {"en": 0.25, "de": 0.8, "es": 0.5, "fr": 1.0, "zh": 0.1}
SPLIT_WEIGHTS, SPLIT_NAMES = (0.8, 0.1, 0.1), ("train", "val", "test")
BPE_MERGES = 8  # shared by q_bpe_learn / q_bpe_encode and their oracles


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based stratified sampling (webx/sampling.py):
    membership = content-hash bucket under a per-stratum threshold —
    reproducible on any partitioning/cluster/engine, unlike Bernoulli
    sampleBy. The oracle recomputes membership via the XXH64 port."""
    from webx.sampling import stratified_sample

    docs = synth.load_documents(spark, sf)
    return stratified_sample(docs, "lang", STRATA_FRACTIONS).select("doc_id", "lang")


def q_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Append-stable train/val/test split assignment (hash thresholds,
    not random draws — new rows never flip existing rows' splits)."""
    from webx.sampling import split_assign

    docs = synth.load_documents(spark, sf)
    return split_assign(docs, SPLIT_WEIGHTS, SPLIT_NAMES).select("doc_id", "split")


def q_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval LEAKAGE AUDIT: near-duplicate pairs that straddle the
    hash-assigned split boundary — the published test-set-contamination
    failure (a test doc whose near-dup sits in train). Composes two
    gated operators: MinHash near-dup pairs (webx/dedup.py) × the
    append-stable split assignment (webx/sampling.py), two hash joins on
    the id key (the scale shape — neither side is broadcastable at
    corpus size), then a count per unordered split pair. The oracle
    composes the SAME two oracle generators (XXH64 SQL port)."""
    from webx.dedup import minhash_neardup
    from webx.sampling import split_assign

    docs = _docs_with_neardups(spark, sf)
    pairs = minhash_neardup(docs, threshold=0.6).select("id_a", "id_b")
    splits = split_assign(docs.select("doc_id"), SPLIT_WEIGHTS, SPLIT_NAMES)
    sa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    j = pairs.join(sa, "id_a").join(sb, "id_b")
    return j.groupBy(
        F.least("split_a", "split_b").alias("split_lo"),
        F.greatest("split_a", "split_b").alias("split_hi"),
    ).agg(F.count("*").alias("n_pairs"))


def _split_leakage_oracle_sql() -> str:
    """Compose the minhash-pairs oracle with the split-assignment chain
    (both from their own generators — one source of truth each)."""
    from webx import oracles as _o
    from webx.sampling import BUCKETS as B, split_cuts

    inner = _o.minhash_oracle_sql(threshold=0.6)
    assert inner.startswith(_o.XXH64_MACROS)
    inner_body = inner[len(_o.XXH64_MACROS):]
    cuts = split_cuts(SPLIT_WEIGHTS)
    chain_sql = " ".join(
        f"WHEN b < {c} THEN '{n}'" for n, c in zip(SPLIT_NAMES, cuts)
    )
    return _o.XXH64_MACROS + (
        "WITH pairs AS (" + inner_body + "), "
        "u AS (SELECT doc_id FROM documents "
        "UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id < 20), "
        f"s AS (SELECT doc_id, CASE {chain_sql} ELSE '{SPLIT_NAMES[-1]}' END AS split "
        f"FROM (SELECT doc_id, {_o.hash_bucket_sql('doc_id', 7, B)} AS b FROM u)), "
        "j AS (SELECT sa.split AS split_a, sb.split AS split_b FROM pairs p "
        "JOIN s sa ON p.id_a = sa.doc_id JOIN s sb ON p.id_b = sb.doc_id) "
        "SELECT least(split_a, split_b) AS split_lo, "
        "greatest(split_a, split_b) AS split_hi, COUNT(*) AS n_pairs "
        "FROM j GROUP BY 1, 2"
    )


def q_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc top-5 tf-idf terms (corpus keyword extraction). The gate
    compares the exact integer columns (rank/tf/df) — rank order is
    float-derived but tie-broken deterministically; the score itself is
    a pure function of (tf, df, N) both engines share."""
    from webx.textstats import tfidf_topk

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return tfidf_topk(docs, k=5).select("doc_id", "rank", "term", "tf", "df")


def q_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus bigram collocations (Church-Hanks PMI in lift form):
    adjacent-pair lift vs unigram frequencies, min_count=3. Counts are
    exact integers and the lift is one double multiply/divide both
    engines perform identically — full value-hash gate."""
    from webx.textstats import collocations

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return collocations(docs, min_count=3)


def q_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted index over the corpus: term -> exact df + ordered
    posting-list prefix (cap 50, applied via rank window BEFORE the
    collect so executor memory stays bounded on mega-terms)."""
    from webx.textstats import inverted_index

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return inverted_index(docs, min_df=3, max_postings=50)


def q_embedding_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster embedding outliers (CLIP-curation-style far-from-
    centroid pruning): deterministic anchor assignment + rank-based
    flagging (no float mean/variance) — full value-hash oracle."""
    from webx.similarity import embedding_outliers

    emb = _emb(spark, sf).select("vec_id", "embedding")
    cents = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    return embedding_outliers(_par(emb, spark), cents, k_far=3)


def q_token_f1(spark: SparkSession, sf: str) -> DataFrame:
    """Token-overlap F1 (SQuAD-style multiset metric) between the RAW
    document text and the flagship extraction output per url — a real
    graded comparison (the raw side lacks the 'Doc N' heading and keeps
    original whitespace), both sides closed-form for the oracle."""
    from webx.metrics import token_f1

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    u = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    pred = docs.select(u.alias("url"), "text")
    gold = run_extraction(_pages(spark, sf), CFG).select("url", "text")
    return token_f1(pred, gold)


def q_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """zlib redundancy signal (RedPajama-v2/Dolma quality feature).
    Rows-only by design: zlib is not SQL-expressible; exact byte counts
    are pytest-anchored (tests/test_compression_ratio.py)."""
    from webx.textstats import compression_ratio

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return compression_ratio(docs)


def q_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse-cluster embeddings (16
    sampled anchors, the ivf_topk_deterministic quantizer contract),
    prune within-cluster cosine pairs ≥ 0.93, keep the component
    minimum. Corpus = embeddings + EXACT copies of vec_id < 20 planted
    at vec_id + 10^6 (identical vectors co-cluster by construction, so
    every planted pair is pruned). Fully deterministic — the oracle
    replays assignment, pairing, and closure bit-for-bit."""
    from webx.similarity import semdedup

    emb = _emb(spark, sf).select("vec_id", "embedding")
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dup)  # both branches already split by _emb
    cents = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    return semdedup(corpus, cents, threshold=0.93)


PUNCT_SUFFIX = " “Smart” — it’s… done"  # forces every typography rule to fire


def q_punct_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Typography normalization (curly quotes/dashes/NBSP/ellipsis →
    ASCII) over documents with an injected smart-typography suffix so
    every rule fires; the oracle replays the frozen PUNCT_MAP replace
    chain."""
    from webx.textstats import normalize_punct

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    docs = docs.withColumn("text", F.concat("text", F.lit(PUNCT_SUFFIX)))
    return normalize_punct(docs).select("doc_id", "text_norm", "punct_changed")


def q_char_classes(spark: SparkSession, sf: str) -> DataFrame:
    """ASCII character-class counters (upper/lower/digit/space/other) —
    the Gopher/C4 symbol- and capitalization-gate raw material."""
    from webx.textstats import char_class_profile

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return char_class_profile(docs)


def q_host_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host corpus quality rollup: quality counters aggregated on
    the canonical host (urls.host over the closed-form URL) — the
    corpus-audit analytics layer in one query, no join (host derives
    from the row)."""
    from webx.textstats import quality_score
    from webx.urls import host as url_host

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    q = quality_score(docs)
    u = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    return (
        q.select(url_host(u).alias("host"), "n_chars", "n_tokens", "n_punct")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_punct").alias("sum_punct"),
        )
    )


def q_chunk_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window chunking (window 128, stride 96) — long-document
    context preparation; integer window grid + clamped slicing are
    engine-exact."""
    from webx.curate import chunk_windows

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return chunk_windows(docs, window=128, stride=96)


def q_markdown(spark: SparkSession, sf: str) -> DataFrame:
    """HTML→Markdown lane over the flagship corpus: headings rendered
    as '#'-prefixed lines (level from the opening <hN> tag), blocks
    joined with blank lines; the <title> block is metadata and excluded.
    Same zero-shuffle fused-mapInPandas shape as the flagship; oracle is
    the closed-form '# Doc N\\n\\n' || norm."""
    from webx.markdown import run_markdown

    return run_markdown(_pages(spark, sf)).select("url", "markdown", "n_headings")


def q_markdown_multi(spark: SparkSession, sf: str) -> DataFrame:
    """Markdown over the two-article page: exercises heading levels
    (h1 + h2) and multi-block reassembly."""
    from webx.markdown import run_markdown

    pages = _par(synth.synth_pages_multi(spark, sf), spark)
    return run_markdown(pages).select("url", "markdown", "n_headings")


def q_temperature_sample(spark: SparkSession, sf: str) -> DataFrame:
    """alpha=0.5 temperature-balanced multilingual sampling (the mBERT/
    XLM-R exponentiated-smoothing rebalance): expected kept docs per
    language ~ target * sqrt-share. Membership is the cross-multiplied
    ALL-INTEGER hash-bucket rule (webx/sampling.py) — exact oracle."""
    from webx.sampling import temperature_sample

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "lang"), spark)
    return temperature_sample(docs, target_total=150)


def q_bloom_seen(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-frontier seen-URL check: Bloom bitmap (2^20 bits, k=3)
    built over the corpus URLs, probed with half known / half novel
    candidates. Deterministic hash family ⇒ the oracle recomputes
    membership EXACTLY (false positives included) via the XXH64 port."""
    from webx.sketch import bloom_build, bloom_probe

    docs = _par(synth.load_documents(spark, sf).select("doc_id"), spark)
    u = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    bitmap = bloom_build(docs.select(u.alias("url")), "url")
    cand = docs.select(
        F.when(F.col("doc_id") % 2 == 0, u)
        .otherwise(
            F.concat(
                F.lit("https://unseen.example.org/p/"),
                F.col("doc_id").cast("string"),
            )
        )
        .alias("url")
    )
    return bloom_probe(bitmap, cand, "url")


def q_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """BPE training step 1: adjacent-symbol pair frequencies over the
    word-frequency table (chars + </w> terminal). The one corpus pass of
    tokenizer training; everything after is vocabulary-scale."""
    from webx.bpe import initial_vocab, pair_counts

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return pair_counts(initial_vocab(docs))


def q_bpe_learn(spark: SparkSession, sf: str) -> DataFrame:
    """8 learned BPE merges (rank, p1, p2, cnt) — the iterative
    argmax-merge loop, ties frozen (cnt desc, p1, p2 asc). The oracle
    replays ALL 8 iterations as an unrolled chain of materialized CTEs
    with the identical greedy left-to-right list fold — a full
    value-hash gate on an iterative training algorithm."""
    from webx.bpe import learn_bpe

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    merges, _ = learn_bpe(docs, BPE_MERGES)
    return spark.createDataFrame(merges, "rank int, p1 string, p2 string, cnt long")


def q_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus encoded with the trained merges: (doc_id, n_pieces,
    pieces). In-vocabulary words take the zero-Python join path (the
    trained vocab IS the encoding map); the oracle replays training and
    encodes through the final vocab CTE."""
    from webx.bpe import bpe_encode, learn_bpe

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    merges, vocab = learn_bpe(docs, BPE_MERGES)
    return bpe_encode(docs, merges, vocab)


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Test-set decontamination (the GPT-3/Gopher 13-gram overlap
    filter): docs sharing any word 13-gram with a benchmark set (every
    97th document plays the eval set). Benchmark n-grams broadcast; the
    corpus explodes once, no corpus shuffle."""
    from webx.curate import contaminated_ids

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    return contaminated_ids(docs, bench, n=13).orderBy("doc_id")


def q_passage_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Passage-level test-set decontamination via the suffix array
    (webx/suffix.py): train docs sharing a ≥24-char passage with the
    benchmark slice (every 50th doc), caught at ANY length — the
    complement of q_decontaminate's 13-gram filter, which misses spans
    that straddle n-gram boundaries or differ in tokenization. All
    suffixes sharing a ≥L prefix form one contiguous SA interval, so if
    it holds both a train and a test suffix, some ADJACENT pair crosses
    the boundary (pigeonhole) — cross-side adjacency is a complete
    witness and the scan stays linear. Query scale: half the corpus,
    64-char document prefixes (the winnowing prefix_chars discipline;
    the module takes any depth — rounds grow logarithmically)."""
    from webx.suffix import adjacent_dup_pairs

    docs = _par(
        synth.load_documents(spark, sf)
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 2 == 0),
        spark,
    )
    test = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 50 != 0)
    pairs = adjacent_dup_pairs(
        train.unionByName(test),
        min_lcp=24, max_chars=64, lcp_cap=16, base=16,
    )
    return pairs.filter(
        (F.col("id_a") < 1_000_000) & (F.col("id_b") >= 1_000_000)
    ).select(
        F.col("id_a").alias("train_id"),
        (F.col("id_b") - 1_000_000).alias("test_id"),
        "max_lcp",
        "n_adj",
    )


def _passage_decontaminate_oracle_sql() -> str:
    from webx.suffix import lcp_chain_sql

    max_chars, min_lcp, cap, base = 64, 24, 16, 16
    ctes = [
        (
            "docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0), "
            "u AS (SELECT CASE WHEN doc_id % 50 = 0 THEN doc_id + 1000000 "
            "ELSE doc_id END AS doc_id, text FROM docs)"
        ),
        (
            "s0 AS (SELECT doc_id, pos, "
            f"substr(t, pos, {max_chars}) AS s, "
            f"dense_rank() OVER (ORDER BY substr(t, pos, {base})) AS rank "
            "FROM (SELECT doc_id, t, "
            "unnest(generate_series(1, length(t))) AS pos "
            f"FROM (SELECT doc_id, substr(text, 1, {max_chars}) AS t "
            "FROM u)))"
        ),
    ]
    width, k = base, 0
    while width < max_chars:
        ctes.append(
            f"s{k + 1} AS (SELECT doc_id, pos, s, "
            "dense_rank() OVER (ORDER BY rank, rank2) AS rank "
            f"FROM (SELECT a.doc_id, a.pos, a.s, a.rank, "
            "coalesce(b.rank, 0) AS rank2 "
            f"FROM s{k} a LEFT JOIN s{k} b "
            f"ON a.doc_id = b.doc_id AND b.pos = a.pos + {width}))"
        )
        width *= 2
        k += 1
    ctes.append(
        "sar AS (SELECT doc_id, pos, s, "
        "row_number() OVER (ORDER BY rank, doc_id, pos) AS sa "
        f"FROM s{k})"
    )
    ctes.append(
        "adj AS (SELECT l.doc_id AS d1, l.s AS s1, r.doc_id AS d2, r.s AS s2 "
        "FROM sar l JOIN sar r ON r.sa = l.sa - 1 "
        "WHERE l.doc_id <> r.doc_id)"
    )
    scored = lcp_chain_sql("SELECT * FROM adj", "s1", "s2", cap)
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT id_a AS train_id, id_b - 1000000 AS test_id, "
        "max_lcp, n_adj FROM ("
        "SELECT least(d1, d2) AS id_a, greatest(d1, d2) AS id_b, "
        "CAST(max(lcp) AS BIGINT) AS max_lcp, "
        "CAST(count(*) AS BIGINT) AS n_adj "
        f"FROM ({scored}) WHERE lcp >= {min_lcp} GROUP BY 1, 2) "
        "WHERE id_a < 1000000 AND id_b >= 1000000"
    )


def q_host_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host volume cap (crawl curation): keep ≤50 docs per host in
    deterministic doc_id order — rank window, one shuffle on the skew
    axis the cap exists to tame."""
    from webx.curate import cap_per_host

    docs = synth.load_documents(spark, sf)
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.com")
    )
    d = docs.select("doc_id", host.alias("host"))
    return cap_per_host(d, max_per_host=50).select("doc_id", "host")


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy training-sequence packing: per-lang walk in doc_id order,
    new bin when the running whitespace-token count would pass 512 (an
    oversized doc gets its own bin). Grouped applyInPandas — groups pack
    independently, the only scale-honest formulation of a sequential
    walk. Oracle: DuckDB recursive CTE replays the same greedy rule."""
    from webx.curate import pack_sequences

    docs = synth.load_documents(spark, sf)
    return pack_sequences(docs, max_tokens=512, group_col="lang").orderBy(
        "grp", "doc_id"
    )


def q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide paragraph exact dedup (CCNet/C4): every document gets
    a shared boilerplate paragraph appended; after dedup only the
    first-occurrence document keeps it. One shuffle on the paragraph
    hash; documents reassemble in original order."""
    from webx.curate import paragraph_dedup

    docs = _par(synth.load_documents(spark, sf), spark).select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\nAccept cookies to continue")).alias("text"),
    )
    return paragraph_dedup(docs).orderBy("doc_id")


def q_length_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles of doc length per language — the
    corpus-profiling aggregate a curation pipeline runs before choosing
    quality-filter thresholds. Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` share the linear-interpolation definition, so the
    doubles agree bit-for-bit.

    SCALE CAVEAT: exact ``percentile`` buffers every value of a group in
    one executor's memory — fine for profiling runs up to ~10^8 rows per
    group, an OOM at crawl scale where one language holds 10^11 docs.
    The 100×-scale twin is ``q_length_percentiles_approx`` below
    (``approx_percentile``, bounded-memory mergeable sketch); exactness
    is kept HERE because this query is the oracle-checked one."""
    docs = synth.load_documents(spark, sf)
    ln = F.length("text")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min(ln).alias("min_len"),
        F.percentile(ln, 0.5).alias("p50"),
        F.percentile(ln, 0.9).alias("p90"),
        F.percentile(ln, 0.99).alias("p99"),
        F.max(ln).alias("max_len"),
    )


def q_length_percentiles_approx(spark: SparkSession, sf: str) -> DataFrame:
    """Scale-path twin of q_length_percentiles: ``approx_percentile``
    (KLL/Greenwald-Khanna-style mergeable sketch, bounded memory per
    group, map-side partial merge) — what a 100 TB profiling run should
    call. accuracy=10000 ⇒ rank error ≤ 1/10000. No SQL oracle (the
    sketch is Spark-internal); the exact sibling is the correctness
    anchor and pytest bounds the drift between the two."""
    docs = synth.load_documents(spark, sf)
    ln = F.length("text")
    acc = F.lit(10000)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min(ln).alias("min_len"),
        F.approx_percentile(ln, F.lit(0.5), acc).alias("p50"),
        F.approx_percentile(ln, F.lit(0.9), acc).alias("p90"),
        F.approx_percentile(ln, F.lit(0.99), acc).alias("p99"),
        F.max(ln).alias("max_len"),
    )


def q_lang_host_cube(spark: SparkSession, sf: str) -> DataFrame:
    """``cube()`` sibling of q_lang_host_rollup: all four grouping sets
    (lang×host, lang, host, grand total) over the documents table."""
    docs = synth.load_documents(spark, sf)
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.com")
    )
    return (
        docs.select("lang", host.alias("host"), F.length("text").alias("chars"))
        .cube("lang", "host")
        .agg(F.count("*").alias("n_docs"), F.sum("chars").alias("sum_chars"))
    )


def _encode_vocab() -> list:
    from webx.textstats import LANG_STOPWORDS

    return sorted({w for _, sw in LANG_STOPWORDS for w in sw})


def q_token_ids(spark: SparkSession, sf: str) -> DataFrame:
    """str2idx + RecCTCLabelEncode analog (rec_transforms.py:93-106):
    word-level vocab lookup with OOV skip, blank-padded to max_len;
    docs with >64 tokens hit the invalid path (all-blank, length 0)."""
    from webx.encode import ctc_encode

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    enc = ctc_encode(docs, "text", _encode_vocab(), max_len=64, lower=True)
    # Serialize the id array to a scalar: the grading harness canonicalizes
    # rows by sorting column values, which list cells cannot support.
    return enc.select(
        "doc_id",
        "length",
        F.concat_ws(",", F.col("text_seq").cast("array<string>")).alias("text_seq"),
    )


def q_token_ids_attn(spark: SparkSession, sf: str) -> DataFrame:
    """RecAttnLabelEncode analog (rec_transforms.py:171-181): GO/STOP
    sentinel framing + GO padding, vocab ids shifted past the specials."""
    from webx.encode import attn_encode

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    enc = attn_encode(docs, "text", _encode_vocab(), max_len=64, lower=True)
    return enc.select(
        "doc_id",
        "length",
        F.concat_ws(",", F.col("text_seq").cast("array<string>")).alias("text_seq"),
    )


def q_sentinel_truncate(spark: SparkSession, sf: str) -> DataFrame:
    """Attention `<STOP>` truncation analog (rec_postprocess.py:213-218):
    text before the first '. ' sentinel; missing sentinel ⇒ empty (the
    reference's unterminated-decode policy)."""
    from webx.recognize import truncate_at_sentinel

    docs = synth.load_documents(spark, sf)
    return docs.select(
        "doc_id", truncate_at_sentinel(F.col("text"), ". ").alias("prefix")
    )


def q_join3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-style 3-table join: lineitem ⋈ orders as an explicit
    SORT-MERGE join (hinted — both sides are fact tables at crawl scale,
    where broadcasting is impossible; AQE would pick broadcast at test
    scale and hide the plan we need to prove), customer as a broadcast
    dim. Revenue in exact integer cents."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n_items"), F.sum(rev).alias("rev_cents"))
    )


def q_join_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Anti-join: customers who never placed an order above $300k,
    decorated with their nation and region via broadcast dims (touches
    all dim tables; the price filter pushes below the anti-probe)."""
    c = spark.read.parquet(f"{sf}/customer.parquet")
    o = spark.read.parquet(f"{sf}/orders.parquet").filter(
        F.col("o_totalprice") > 300000
    )
    n = spark.read.parquet(f"{sf}/nation.parquet")
    r = spark.read.parquet(f"{sf}/region.parquet")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


def q_join_semi(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-join: suppliers with at least one line item shipped on/after
    1995-06-01 — the filter is pushed below the semi-join probe."""
    s = spark.read.parquet(f"{sf}/supplier.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet").filter(
        F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp")
    )
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


def q_topk_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Window-after-join: top-3 parts by revenue within each brand
    (broadcast part dim → partial agg on (brand, part) → ranked)."""
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = spark.read.parquet(f"{sf}/part.parquet")
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(rev).alias("rev_cents"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("rev_cents"), F.asc("p_partkey")
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "rev_cents", "rn")
    )


def q_lang_host_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """True ``rollup()`` (SURVEY §2.4 grouping-sets row): extraction
    output rolled up over (lang, host) with subtotal and grand-total
    rows — NULL-marked levels must match DuckDB's GROUP BY ROLLUP."""
    out = run_extraction(_pages(spark, sf), CFG, passthrough=("lang",))
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    return (
        out.select("lang", host.alias("host"), F.length("text").alias("chars"))
        .rollup("lang", "host")
        .agg(F.count("*").alias("n_docs"), F.sum("chars").alias("sum_chars"))
    )


def _pii_injected(spark: SparkSession, sf: str) -> DataFrame:
    """Documents with deterministic PII planted by residue class: email /
    phone / IPv4 / clean. The oracle applies the IDENTICAL pattern text in
    DuckDB (RE2) — webx.pii patterns are written in the common
    Java-regex/RE2 subset precisely so both engines agree."""
    docs = synth.load_documents(spark, sf)
    i = F.col("doc_id").cast("string")
    tail = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" Contact user"), i, F.lit("@mail"),
                     (F.col("doc_id") % 5).cast("string"),
                     F.lit(".example.org today.")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(" Call +1-555-0"),
                     (F.col("doc_id") % 10).cast("string"),
                     F.lit("0-1234 now.")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit(" Server 10."),
                     (F.col("doc_id") % 200).cast("string"), F.lit("."),
                     (F.col("doc_id") % 100).cast("string"),
                     F.lit(".7 up.")),
        )
        .otherwise(F.lit(""))
    )
    return docs.select("doc_id", F.concat(F.col("text"), tail).alias("text"))


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII detection + sentinel redaction (webx/pii.py) — the Dolma-style
    curation stage. Pure codegen projection, zero shuffle."""
    from webx.pii import with_pii

    out = with_pii(_pii_injected(spark, sf), "text")
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ipv4",
        F.col("has_pii").cast("int").alias("has_pii"),
        F.col("text_redacted").alias("redacted"),
    )


def q_latest_capture(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-recency dedup (webx/lineage.latest_capture): each url appears
    as 1 + doc_id%3 captures with increasing warc_ts and versioned text;
    keep the newest via one max_by hash-agg shuffle (no window sort)."""
    from webx.lineage import latest_capture

    docs = synth.load_documents(spark, sf)
    captures = docs.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))).alias("v"),
    ).select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") + F.col("v") * 10000
        ).alias("warc_ts"),
        F.concat(F.lit("v"), F.col("v").cast("string"), F.lit(" "), F.col("text")).alias("text"),
    )
    won = latest_capture(captures)
    return won.select(
        "url", F.unix_timestamp("warc_ts").alias("ts_epoch"), "text"
    )


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental snapshot diff (webx/lineage.snapshot_diff): old = all
    docs; new drops doc_id%5==0 (deleted), edits doc_id%5==1 (changed),
    and adds a /new url for doc_id%10==7 (added). One projected
    full-outer shuffle join on url."""
    from webx.lineage import snapshot_diff

    docs = synth.load_documents(spark, sf)
    url = F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                   F.lit(".example.com/doc/"), F.col("doc_id").cast("string"))
    old = docs.select(url.alias("url"), "text")
    base = docs.filter(F.col("doc_id") % 5 != 0).select(
        url.alias("url"),
        F.when(F.col("doc_id") % 5 == 1, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 10 == 7).select(
        F.concat(url, F.lit("/new")).alias("url"), "text"
    )
    return snapshot_diff(old, base.unionByName(added), key="url", fingerprint="text")


def q_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-blocklist gate (webx/urls.filter_blocked_hosts): UT1-style
    deny list as a broadcast LEFT ANTI join — survivors with their host."""
    from webx.urls import filter_blocked_hosts, host as url_host

    docs = synth.load_documents(spark, sf)
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com/doc/"), F.col("doc_id").cast("string")).alias("url"),
    )
    block = spark.createDataFrame(
        [("h0.example.com",), ("h3.example.com",), ("h5.example.com",)],
        "host string",
    )
    return filter_blocked_hosts(pages, block).select(
        "doc_id", url_host("url").alias("url_host")
    )


def _second_snapshot_docs(docs: DataFrame):
    """(base_docs, added_docs) for the synthetic recrawl: doc_id%5==0
    deleted, doc_id%5==1 text-edited, doc_id%10==7 republished at /new."""
    base = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 1, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 10 == 7)
    return base, added


def q_extract_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental recrawl extraction (webx/lineage.incremental_extract):
    only added/changed pages go through the extractor; unchanged urls
    carry the previous run's rows forward. The oracle is the closed-form
    flagship golden over the SECOND snapshot — so carried rows, fresh
    rows, and deletions must all land exactly right."""
    from webx.lineage import incremental_extract
    from webx.pipeline import run_extraction

    docs = synth.load_documents(spark, sf)
    old_pages = _par(synth.flagship_pages_from_docs(docs), spark)
    base, added = _second_snapshot_docs(docs)
    new_pages = _par(
        synth.flagship_pages_from_docs(base).unionByName(
            synth.flagship_pages_from_docs(added).withColumn(
                "url", F.concat(F.col("url"), F.lit("/new"))
            )
        ),
        spark,
    )
    prev = run_extraction(old_pages, CFG)
    result, _diff = incremental_extract(old_pages, new_pages, prev, CFG)
    return result.select("url", "text")


def q_page_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Page metadata projections (webx/urls.page_metadata): title and the
    declared charset over a mixed utf-8 / latin-1 corpus (even doc_ids
    flagship, odd doc_ids the latin-1 variant); closed-form oracle."""
    from webx.urls import page_metadata

    parity = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long") % 2
    utf8 = synth.synth_pages(spark, sf).filter(parity == 0)
    lat1 = synth.synth_pages_latin1(spark, sf).filter(parity == 1)
    pages = utf8.unionByName(lat1)
    return page_metadata(pages).select("url", "page_title", "charset_decl")


def q_script_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Script composition + dominant script (webx/textstats.script_profile)
    over documents with planted non-Latin runs: doc_id%5==1 gets a
    Cyrillic run LONGER than the whole base text (n_chars+1, so Cyrillic
    must win the argmax), 2/3/4 get short Greek/Arabic/CJK tails."""
    from webx.textstats import script_profile

    docs = synth.load_documents(spark, sf)
    tail = (
        F.when(F.col("doc_id") % 5 == 1,
               F.repeat(F.lit("\u044f"), (F.col("n_chars") + 1).cast("int")))
        .when(F.col("doc_id") % 5 == 2, F.lit(" \u03b1\u03b2\u03b3\u03b4\u03b5"))
        .when(F.col("doc_id") % 5 == 3, F.lit(" \u0645\u0631\u062d\u0628\u0627"))
        .when(F.col("doc_id") % 5 == 4,
              F.lit(" \u4f60\u597d\u4e16\u754c\u3053\u3093\u306b\u3061\u306f"))
        .otherwise(F.lit(""))
    )
    injected = docs.select(
        "doc_id", F.concat(F.col("text"), tail).alias("text")
    )
    return script_profile(injected).select(
        "doc_id", "n_latin", "n_cyrillic", "n_greek", "n_arabic", "n_cjk",
        "dominant_script",
    )


def q_robots_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Robots-meta directives (webx/urls.robots_flags): pages planted with
    noindex,nofollow / uppercase single-quoted NOFOLLOW / "all" / no tag
    by residue class; the oracle states the expected flags closed-form.
    Pure codegen over the lossy UTF-8 decode, zero shuffle."""
    from webx.urls import robots_flags

    docs = synth.load_documents(spark, sf)
    meta = (
        F.when(F.col("doc_id") % 6 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(F.col("doc_id") % 6 == 1,
              F.lit("<meta content='INDEX, NOFOLLOW' name='ROBOTS'>"))
        .when(F.col("doc_id") % 6 == 2,
              F.lit('<meta name="robots" content="all">'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head><title>Doc</title>"), meta,
        F.lit("</head><body><p>Doc "), F.col("doc_id").cast("string"),
        F.lit("</p></body></html>"),
    )
    pages = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return robots_flags(pages).select(
        "doc_id",
        F.col("has_robots_meta").cast("int").alias("has_robots_meta"),
        F.col("robots_noindex").cast("int").alias("robots_noindex"),
        F.col("robots_nofollow").cast("int").alias("robots_nofollow"),
    )


def q_structured_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Structured page metadata (webx/metadata.structured_meta): OpenGraph
    tags + first JSON-LD block, planted by residue class — %4==0 both
    (canonical attribute order), ==1 OpenGraph only with SWAPPED
    attribute order + single quotes, ==2 JSON-LD only (NewsArticle, no
    author), ==3 neither. from_json parses the block JVM-side; the
    oracle states every projection closed-form."""
    from webx.metadata import structured_meta

    docs = synth.load_documents(spark, sf)
    did = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    jsonld = F.concat(
        F.lit('<script type="application/ld+json">{"@type": "'),
        F.when(F.col("doc_id") % 4 == 0, F.lit("Article")).otherwise(
            F.lit("NewsArticle")
        ),
        F.lit('", "headline": "'),
        did,
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('", "author": {"name": "Author '),
                (F.col("doc_id") % 5).cast("string"),
                F.lit('"}}'),
            ),
        ).otherwise(F.lit('"}')),
        F.lit("</script>"),
    )
    og = F.concat(
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<meta property="og:title" content="'), did,
                F.lit('"><meta property="og:type" content="article">'),
            ),
        ).otherwise(
            F.concat(
                F.lit("<meta content='"), did, F.lit("' property='og:title'>")
            )
        ),
    )
    head = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(og, jsonld))
        .when(F.col("doc_id") % 4 == 1, og)
        .when(F.col("doc_id") % 4 == 2, jsonld)
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head><title>t</title>"), head,
        F.lit("</head><body><p>b</p></body></html>"),
    )
    pages = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return structured_meta(pages).select(
        "doc_id", "og_title", "og_type", "jsonld_type", "jsonld_headline",
        "jsonld_author",
    )


def q_headings(spark: SparkSession, sf: str) -> DataFrame:
    """Heading outline (webx/metadata.heading_outline): pages planted
    with one h1 + (doc_id%3+1) h2 sections; the extractor must recover
    (pos, level, heading) in document order with inner tags stripped
    (every h2 text carries an <em> to prove the cleaning)."""
    from webx.metadata import heading_outline

    docs = synth.load_documents(spark, sf)
    n = (F.col("doc_id") % 3 + 1).cast("int")
    sections = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda k: F.concat(
                F.lit("<h2>Part <em>"), k.cast("string"),
                F.lit("</em></h2><p>body</p>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><body><h1 class='t'>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>intro</p>"),
        sections,
        F.lit("</body></html>"),
    )
    pages = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return heading_outline(pages).select("doc_id", "pos", "level", "heading")


def q_html_tables(spark: SparkSession, sf: str) -> DataFrame:
    """HTML table extraction (webx/metadata.html_tables): a header row
    (th) + (doc_id%3+1) data rows with closed-form cell values; the
    value cell is <b>-wrapped to prove tag stripping. Grid recovered as
    (row_idx, col_idx, is_header, cell)."""
    from webx.metadata import html_tables

    docs = synth.load_documents(spark, sf)
    n = (F.col("doc_id") % 3 + 1).cast("int")
    body_rows = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda r: F.concat(
                F.lit("<tr><td>r"), r.cast("string"), F.lit("</td><td><b>"),
                (F.col("doc_id") * 10 + r).cast("string"),
                F.lit("</b></td></tr>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><body><table><tr><th>key</th><th>value</th></tr>"),
        body_rows,
        F.lit("</table></body></html>"),
    )
    pages = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return html_tables(pages).select(
        "doc_id", "row_idx", "col_idx", "is_header", "cell"
    )


def q_dom_depth(spark: SparkSession, sf: str) -> DataFrame:
    """DOM nesting profile (webx/metadata.dom_depth_stats): paragraph
    wrapped in doc_id%4 extra divs, plus a script block containing fake
    tags (must be stripped) and a <br> (void, must not nest). Expected
    depth/open-tag counts are closed-form in the planted structure."""
    from webx.metadata import dom_depth_stats

    docs = synth.load_documents(spark, sf)
    n = (F.col("doc_id") % 4).cast("int")
    html = F.concat(
        F.lit("<html><head><script>var a='<div><div>'</script></head><body><br>"),
        F.repeat(F.lit("<div>"), n),
        F.lit("<p>x</p>"),
        F.repeat(F.lit("</div>"), n),
        F.lit("</body></html>"),
    )
    pages = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    return dom_depth_stats(pages).select(
        "doc_id", "n_tag_tokens", "max_depth", "n_open_tags"
    )


def q_feed_entries(spark: SparkSession, sf: str) -> DataFrame:
    """Syndication-feed source lane (webx/feeds.parse_feed): even doc_ids
    publish an Atom feed (ISO-8601 <updated>), odd an RSS 2.0 channel
    (RFC-822 <pubDate> with day-of-week + GMT zone); doc_id%3+1 entries
    each. Both formats must land on the same canonical rows — titles,
    links and the parsed epoch are closed-form."""
    from webx.feeds import parse_feed

    docs = synth.load_documents(spark, sf)
    n = (F.col("doc_id") % 3 + 1).cast("int")
    is_atom = F.col("doc_id") % 2 == 0

    def entry_xml(j):
        ts = F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 60 + j * 10
        )
        title = F.concat(
            F.lit("Doc "), F.col("doc_id").cast("string"),
            F.lit(" entry "), j.cast("string"),
        )
        link = F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
            F.lit("/e/"), j.cast("string"),
        )
        atom = F.concat(
            F.lit("<entry><title>"), title,
            F.lit('</title><link href="'), link,
            F.lit('"/><updated>'),
            F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit("Z</updated></entry>"),
        )
        rss = F.concat(
            F.lit("<item><title>"), title,
            F.lit("</title><link>"), link,
            F.lit("</link><pubDate>"),
            F.date_format(ts, "EEE, dd MMM yyyy HH:mm:ss"),
            F.lit(" GMT</pubDate></item>"),
        )
        return F.when(is_atom, atom).otherwise(rss)

    entries = F.array_join(F.transform(F.sequence(F.lit(1), n), entry_xml), "")
    xml = F.when(
        is_atom,
        F.concat(
            F.lit('<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">'
                  "<title>Feed</title>"),
            entries, F.lit("</feed>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<?xml version="1.0"?><rss version="2.0"><channel>'
                  "<title>Feed</title>"),
            entries, F.lit("</channel></rss>"),
        )
    )
    feeds = docs.select("doc_id", F.encode(xml, "UTF-8").alias("xml"))
    return parse_feed(feeds).select(
        "doc_id", "source_format", "entry_idx", "title", "link", "pub_epoch"
    )


def q_sitemap_index(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap-INDEX lane (webx/feeds.sitemap_kind + parse_sitemap_index):
    docs rotate sitemapindex / urlset / non-sitemap bytes; index docs
    carry doc_id%5 children (0 children = a valid empty index — kind
    'index' with NULL child row). Classification is the root-element
    test; children fan out one row each with loc + lastmod closed-form."""
    from webx.feeds import parse_sitemap_index, sitemap_kind

    docs = synth.load_documents(spark, sf).select("doc_id")
    i = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 3
    nchild = F.col("doc_id") % 5

    def child(j: int):
        r = (F.col("doc_id") + j) % 28
        return F.when(
            nchild > j,
            F.concat(
                F.lit("<sitemap><loc>https://h"), k, F.lit(".example.com/sm_"),
                i, F.lit("_"), F.lit(str(j)), F.lit(".xml</loc><lastmod>"),
                F.date_format(
                    F.date_add(F.to_date(F.lit("2024-01-01")), r.cast("int")),
                    "yyyy-MM-dd",
                ),
                F.lit("</lastmod></sitemap>"),
            ),
        ).otherwise(F.lit(""))

    xml = (
        F.when(
            m == 0,
            F.concat(
                F.lit('<?xml version="1.0"?>\n<sitemapindex '
                      'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                *[child(j) for j in range(5)],
                F.lit("</sitemapindex>"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("<urlset><url><loc>https://h"), k,
                F.lit(".example.com/p/"), i, F.lit("</loc></url></urlset>"),
            ),
        )
        .otherwise(F.concat(F.lit("<html><body>not a sitemap "), i))
    )
    sm = docs.select("doc_id", F.encode(xml, "UTF-8").alias("xml"))
    kinds = sm.select("doc_id", sitemap_kind("xml").alias("kind"))
    children = parse_sitemap_index(sm).select("doc_id", "sm_idx", "loc", "lastmod")
    return kinds.join(children, "doc_id", "left").select(
        "doc_id", "kind", "sm_idx", "loc", "lastmod"
    )


def _sitemap_index_oracle_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS m, "
        "CAST(doc_id % 5 AS INT) AS nchild, "
        "'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS h FROM documents), "
        "kinds AS (SELECT doc_id, CASE m WHEN 0 THEN 'index' "
        "WHEN 1 THEN 'urlset' ELSE 'unknown' END AS kind, nchild, h FROM d), "
        "ch AS (SELECT doc_id, kind, CAST(j AS INT) AS sm_idx, "
        "'https://' || h || '/sm_' || CAST(doc_id AS VARCHAR) || '_' || "
        "CAST(j AS VARCHAR) || '.xml' AS loc, "
        "strftime(DATE '2024-01-01' + CAST((doc_id + j) % 28 AS INT), '%Y-%m-%d') "
        "AS lastmod FROM kinds CROSS JOIN unnest(generate_series(0, 4)) t(j) "
        "WHERE kind = 'index' AND j < nchild) "
        "SELECT doc_id, kind, sm_idx, loc, lastmod FROM ch "
        "UNION ALL SELECT doc_id, kind, NULL, NULL, NULL FROM kinds "
        "WHERE kind <> 'index' OR nchild = 0"
    )


def q_sitemap(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap source lane (webx/feeds.parse_sitemap): doc_id%3+1 <url>
    blocks per sitemap; lastmod omitted when (doc_id+u)%3==0, priority
    omitted for even u (parser must yield ''/NULL respectively, never
    fail); every field closed-form."""
    from webx.feeds import parse_sitemap

    docs = synth.load_documents(spark, sf)
    n = (F.col("doc_id") % 3 + 1).cast("int")

    def url_block(u):
        r = F.col("doc_id") + u
        loc = F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
            F.lit("/"), u.cast("string"),
        )
        lastmod = F.when(
            r % 3 != 0,
            F.concat(
                F.lit("<lastmod>"),
                F.date_format(
                    F.date_add(F.to_date(F.lit("2024-01-01")), (r % 28).cast("int")),
                    "yyyy-MM-dd",
                ),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit(""))
        freq = F.element_at(
            F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly")),
            (r % 3 + 1).cast("int"),
        )
        prio = F.when(
            u % 2 == 1,
            F.concat(
                F.lit("<priority>0."), (r % 10).cast("string"),
                F.lit("</priority>"),
            ),
        ).otherwise(F.lit(""))
        return F.concat(
            F.lit("<url><loc>"), loc, F.lit("</loc>"), lastmod,
            F.lit("<changefreq>"), freq, F.lit("</changefreq>"),
            prio, F.lit("</url>"),
        )

    blocks = F.array_join(F.transform(F.sequence(F.lit(1), n), url_block), "")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'), blocks, F.lit("</urlset>")
    )
    sitemaps = docs.select("doc_id", F.encode(xml, "UTF-8").alias("xml"))
    return parse_sitemap(sitemaps).select(
        "doc_id", "url_idx", "loc", "lastmod", "changefreq", "priority"
    )


def q_host_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Host-scoped boilerplate removal (webx/curate.strip_host_boilerplate):
    every document of host k carries the host's newsletter slogan as a
    second paragraph; with min_docs=5 the slogan is template chrome on
    every host (≥71 docs/host at sf0.01) and must vanish from all of
    them, while the unique body paragraph survives. Oracle replays the
    identical count-then-anti-join rule in SQL."""
    from webx.curate import strip_host_boilerplate

    docs = synth.load_documents(spark, sf)
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.com")
    )
    slogan = F.concat(
        F.lit("Subscribe to the h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(" newsletter"),
    )
    staged = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.col("text"), F.lit("\n"), slogan).alias("text"),
    )
    return strip_host_boilerplate(_par(staged, spark), min_docs=5).orderBy(
        "doc_id"
    )


def q_template_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """TEMPLATE-scoped boilerplate removal — strip_host_boilerplate
    keyed by (host, template-family) instead of host alone: on
    multi-template hosts (article vs forum layouts) each template's
    chrome differs, and host-scoped counting under-counts both. Docs
    carry a per-(host, template-class) slogan (removed: ≥5 docs share
    it within the key) and doc_id%97==0 docs a unique paragraph
    (kept: below threshold). The tkey composite reuses the exact
    count-then-anti-join machinery; in production the template class is
    metadata.template_fingerprint."""
    from webx.curate import strip_host_boilerplate

    docs = synth.load_documents(spark, sf)
    k = (F.col("doc_id") % 7).cast("string")
    t = (F.col("doc_id") % 2).cast("string")
    tkey = F.concat(F.lit("h"), k, F.lit(".example.com#t"), t)
    slogan = F.concat(F.lit("Subscribe to h"), k, F.lit(" template "), t)
    rare = F.when(
        F.col("doc_id") % 97 == 0,
        F.concat(F.lit("\nRARE "), F.col("doc_id").cast("string")),
    ).otherwise(F.lit(""))
    staged = docs.select(
        "doc_id",
        tkey.alias("tkey"),
        F.concat(F.col("text"), F.lit("\n"), slogan, rare).alias("text"),
    )
    return strip_host_boilerplate(
        _par(staged, spark), host_col="tkey", min_docs=5
    ).orderBy("doc_id")


def _template_boilerplate_oracle_sql() -> str:
    return (
        "WITH base AS (SELECT doc_id, "
        "('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com#t' || "
        "CAST(doc_id % 2 AS VARCHAR)) AS tkey, "
        "string_split(text || chr(10) || 'Subscribe to h' || "
        "CAST(doc_id % 7 AS VARCHAR) || ' template ' || "
        "CAST(doc_id % 2 AS VARCHAR) || "
        "CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'RARE ' || "
        "CAST(doc_id AS VARCHAR) ELSE '' END, chr(10)) AS ps "
        "FROM documents), "
        "parts AS (SELECT doc_id, tkey, unnest(ps) AS para, "
        "unnest(generate_series(1, len(ps))) AS pos FROM base), "
        "boiler AS (SELECT tkey, para FROM (SELECT tkey, para, "
        "count(DISTINCT doc_id) AS nd FROM parts WHERE length(para) >= 1 "
        "GROUP BY tkey, para) WHERE nd >= 5), "
        "kept AS (SELECT p.doc_id, p.pos, p.para FROM parts p "
        "LEFT JOIN boiler b ON p.tkey = b.tkey AND p.para = b.para "
        "WHERE b.para IS NULL), "
        "rebuilt AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) "
        "AS text, count(*) AS n_kept FROM kept GROUP BY doc_id), "
        "totals AS (SELECT doc_id, tkey, count(*) AS n_paragraphs "
        "FROM parts GROUP BY doc_id, tkey) "
        "SELECT t.doc_id, t.tkey, coalesce(r.text, '') AS text, "
        "CAST(t.n_paragraphs AS BIGINT) AS n_paragraphs, "
        "CAST(t.n_paragraphs - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed "
        "FROM totals t LEFT JOIN rebuilt r USING (doc_id)"
    )


def q_nfc_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC canonicalization (webx/textstats.nfc_normalize):
    doc_id%3==1 appends a DECOMPOSED accent tail (e + U+0301, i + U+0308),
    ==2 the same text precomposed, ==0 nothing. NFC must map both tails
    to the identical precomposed bytes; the pure-ASCII base text is the
    quick-check fast path. Oracle states the expected strings closed-form
    (documents.text is printable-ASCII, hence NFC-stable)."""
    from webx.textstats import nfc_normalize

    docs = synth.load_documents(spark, sf)
    tail = (
        # decomposed: e + U+0301, i + U+0308
        F.when(F.col("doc_id") % 3 == 1, F.lit(" cafe\u0301 nai\u0308ve"))
        # precomposed: U+00E9, U+00EF — already NFC
        .when(F.col("doc_id") % 3 == 2, F.lit(" caf\u00e9 na\u00efve"))
        .otherwise(F.lit(""))
    )
    staged = docs.select(
        "doc_id", F.concat(F.col("text"), tail).alias("text")
    )
    return nfc_normalize(_par(staged, spark)).select(
        "doc_id", "text_nfc", "nfc_changed"
    )


_ROBOTS_FIXTURE = [
    # h0: plain group + crawl-delay; /private/ never matches /doc paths
    ("h0.example.com",
     "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"),
    # h1: multi-UA specific group blocks /doc/ for webxbot; * would block /
    ("h1.example.com",
     "User-agent: webxbot\nUser-agent: otherbot\nDisallow: /doc/\n\n"
     "User-agent: *\nDisallow: /\n"),
    # h2: wildcard + $ anchor — blocks ids ending in 7
    ("h2.example.com", "User-agent: *\nDisallow: /doc/*7$\n"),
    # h3: empty Disallow matches nothing (RFC 9309 §2.2.2)
    ("h3.example.com", "User-agent: *\nDisallow:\n"),
    # h4: longest-match — Allow /doc/1 overrides Disallow /doc
    ("h4.example.com", "User-agent: *\nDisallow: /doc\nAllow: /doc/1\n"),
    # h5: comments + equal-length tie — Allow wins
    ("h5.example.com",
     "# block 2s\nUser-agent: *\nDisallow: /doc/2 # inline\nAllow: /doc/2\n"),
    # h6: no robots.txt at all (absent row) -> everything allowed
]


def q_robots_rules(spark: SparkSession, sf: str) -> DataFrame:
    """robots.txt parser (webx/robots.parse_robots): the 6-host fixture
    exercises group formation (multi-UA groups, blank-line separation),
    comment stripping, empty-Disallow dropping, and crawl-delay rows.
    Constant-size output; the oracle enumerates the expected rule rows."""
    from webx.robots import parse_robots

    robots = spark.createDataFrame(
        _ROBOTS_FIXTURE, "host string, robots_txt string"
    )
    return parse_robots(robots).select(
        "host", "group_id", "agent", "rule", "value"
    )


def q_robots_gate(spark: SparkSession, sf: str) -> DataFrame:
    """robots.txt URL gate (webx/robots.robots_gate): frontier URLs
    https://h{doc_id%7}.example.com/doc/{doc_id} evaluated for agent
    'webxbot' under RFC 9309 longest-match / allow-wins-tie semantics
    against the planted per-host policies. Oracle states the verdicts
    closed-form per residue class (h6 has no robots.txt -> allowed)."""
    from webx.robots import parse_robots, robots_gate

    docs = synth.load_documents(spark, sf)
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
    )
    robots = spark.createDataFrame(
        _ROBOTS_FIXTURE, "host string, robots_txt string"
    )
    gated = robots_gate(_par(pages, spark), parse_robots(robots),
                        agent="webxbot")
    return gated.select(
        "doc_id", F.col("allowed").cast("int").alias("allowed"),
        "matched_rule"
    )


def _cdx_fixture_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Synthetic CDXJ index for the documents table: one capture per doc
    at epoch 1704067200+doc_id, a second capture a day later for
    doc_id%4==0 (digest suffix 'b', offset +7), status 404 for
    doc_id%9==4, mime application/pdf for doc_id%5==3."""
    docs = _par(synth.load_documents(spark, sf), spark)
    base_epoch = F.lit(1704067200) + F.col("doc_id")

    def _line(epoch, digest_suffix, offset_bump):
        ts = F.date_format(
            F.to_utc_timestamp(F.from_unixtime(epoch), "UTC"),
            "yyyyMMddHHmmss",
        )
        url = F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        )
        surt = F.concat(
            F.lit("com,example,h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(")/doc/"), F.col("doc_id").cast("string"),
        )
        status = F.when(F.col("doc_id") % 9 == 4, F.lit("404")).otherwise(
            F.lit("200")
        )
        mime = F.when(
            F.col("doc_id") % 5 == 3, F.lit("application/pdf")
        ).otherwise(F.lit("text/html"))
        blob = F.to_json(
            F.struct(
                url.alias("url"),
                mime.alias("mime"),
                status.alias("status"),
                F.concat(F.lit("D"), F.col("doc_id").cast("string"),
                         F.lit(digest_suffix)).alias("digest"),
                (F.lit(500) + F.col("doc_id") % 100).cast("string")
                .alias("length"),
                (F.col("doc_id") * 1000 + offset_bump).cast("string")
                .alias("offset"),
                F.concat(F.lit("crawl-00"),
                         (F.col("doc_id") % 3).cast("string"),
                         F.lit(".warc.gz")).alias("filename"),
            )
        )
        return F.concat_ws(" ", surt, ts, blob)

    first = docs.select(_line(base_epoch, "", 0).alias("line"))
    second = docs.filter(F.col("doc_id") % 4 == 0).select(
        _line(base_epoch + 86400, "b", 7).alias("line")
    )
    return first.unionByName(second)


def q_cdx_latest(spark: SparkSession, sf: str) -> DataFrame:
    """CDXJ capture-index lane (webx/cdx.py): the _cdx_fixture_lines
    index parsed, filtered to fetchable (200 + text/html), latest
    picked per URL in one max_by hash agg. Oracle states the surviving
    pointer rows closed-form."""
    from webx.cdx import latest_captures, parse_cdx, select_captures

    lines = _cdx_fixture_lines(spark, sf)
    picked = latest_captures(select_captures(parse_cdx(lines)))
    return picked.select(
        "url", "capture_epoch", "digest", "warc_filename", "warc_offset",
        "warc_length",
    )


def q_sentences(spark: SparkSession, sf: str) -> DataFrame:
    """Sentence segmentation (webx/textstats.split_sentences): documents
    staged with planted boundaries ('Intro alpha. ' prefix, '!' run,
    '?' mid-tail); the oracle RE-DERIVES the segmentation with the same
    marker-insertion + split recipe in SQL (the two-step form exists
    precisely because RE2 has no lookbehind)."""
    from webx.textstats import split_sentences

    docs = synth.load_documents(spark, sf)
    staged = docs.select(
        "doc_id",
        F.concat(F.lit("Intro alpha. "), F.col("text"),
                 F.lit("! Closing query? tail bit")).alias("text"),
    )
    return split_sentences(_par(staged, spark)).select(
        "doc_id", "sent_idx", "sentence"
    )


def q_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch-Kincaid readability (webx/textstats.readability) over
    punctuation-staged documents (text + '. Second bit!'): integer
    word/sentence/vowel-group counters plus the floor(x100) grade; the
    oracle recomputes the identical IEEE double expression."""
    from webx.textstats import readability

    docs = synth.load_documents(spark, sf)
    staged = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(". Second bit!")).alias("text"),
    )
    return readability(_par(staged, spark)).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "fk_ease_x100"
    )


def q_soft404(spark: SparkSession, sf: str) -> DataFrame:
    """Soft-404 gate (webx/textstats.soft404_flags): doc_id%5==0 becomes
    a canonical short error page (phrase + tiny -> soft404), %5==1
    appends the phrase to the full document (phrase hit, but soft404
    only if the page is still under 50 tokens — the oracle recomputes
    the token count), others untouched."""
    from webx.textstats import soft404_flags

    docs = synth.load_documents(spark, sf)
    staged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("Error 404 page not found on this server."))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.col("text"), F.lit(" sorry page not found")))
        .otherwise(F.col("text")).alias("text"),
    )
    return soft404_flags(_par(staged, spark)).select(
        "doc_id", "err_phrase", "soft404"
    )


def q_frontier_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end crawl-planning funnel: CDXJ index (_cdx_fixture_lines)
    → parse + fetchability filter + latest-per-URL pick (webx/cdx.py)
    → robots.txt gate for agent webxbot (webx/robots.robots_gate over
    _ROBOTS_FIXTURE) → politeness schedule (schedule_frontier: per-host
    serial slots spaced by Crawl-delay, h0=2s, default 1s). The oracle
    replays the funnel closed-form: capture survivors by residue, the
    robots verdicts from q_robots_gate's table, then the same
    ROW_NUMBER window."""
    from webx.cdx import latest_captures, parse_cdx, select_captures
    from webx.robots import (
        crawl_delays,
        parse_robots,
        robots_gate,
        schedule_frontier,
    )

    picked = latest_captures(
        select_captures(parse_cdx(_cdx_fixture_lines(spark, sf)))
    )
    rules = parse_robots(
        spark.createDataFrame(_ROBOTS_FIXTURE, "host string, robots_txt string")
    )
    allowed = (
        robots_gate(picked.select("url"), rules, agent="webxbot")
        .filter(F.col("allowed"))
        .select("url")
    )
    sched = schedule_frontier(
        allowed, crawl_delays(rules, agent="webxbot"), start_epoch=1704067200
    )
    return sched.select("url", "fetch_slot", "fetch_at")


_QM_WEIGHTS = [((j * 37) % 21) - 10 for j in range(64)]
_QM_BIAS = -2


def q_quality_model(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed-bigram linear quality classifier (webx/classifier.py,
    fastText shape): integer weight vector indexed by
    pmod(xxhash64(bigram), 64), folded JVM-side with zero shuffle. The
    oracle recomputes every score EXACTLY via the DuckDB XXH64 port
    (webx/oracles.py) — same reason the MinHash/KMV oracles are exact."""
    from webx.classifier import hashed_ngram_score

    docs = synth.load_documents(spark, sf)
    return hashed_ngram_score(
        _par(docs, spark), _QM_WEIGHTS, bias=_QM_BIAS
    ).select("doc_id", "n_grams", "score", "keep")


def _quality_model_oracle_sql() -> str:
    from webx import oracles as _o

    w_lit = "[" + ", ".join(str(w) for w in _QM_WEIGHTS) + "]"
    return _o.XXH64_MACROS + (
        "WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), "
        f"{WS_SPLIT_SQL}) AS toks FROM documents), "
        "g AS (SELECT doc_id, unnest(list_transform("
        "generate_series(1, len(toks) - 1), "
        "i -> toks[i] || ' ' || toks[i+1])) AS t "
        "FROM tok WHERE len(toks) >= 2), "
        "vocab AS (SELECT DISTINCT t FROM g), "
        + _o.xxh64_str_ctes("vocab", "t", "t", "vh")
        + ", gw AS (SELECT g.doc_id, "
        f"({w_lit})[(vh.h % 64)::INT + 1] AS w FROM g JOIN vh USING (t)), "
        "sc AS (SELECT doc_id, SUM(w) AS s, COUNT(*) AS ng FROM gw "
        "GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(COALESCE(sc.ng, 0) AS INT) AS n_grams, "
        f"CAST({_QM_BIAS} + COALESCE(sc.s, 0) AS BIGINT) AS score, "
        f"CAST(({_QM_BIAS} + COALESCE(sc.s, 0)) > 0 AS INT) AS keep "
        "FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id"
    )


def q_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-source ROC-AUC of the hashed-bigram classifier score
    against an is-English label (webx/metrics.py auc_by_group): the
    Mann-Whitney rank form with tie-corrected DOUBLED ranks so
    everything except one final division is integer arithmetic. The
    corpus collapses to (source, score) histogram rows before any
    window — AUC over 10^12 docs sorts score histograms, not
    documents. Oracle: XXH64-port score replay + the same rank
    algebra."""
    from webx.classifier import hashed_ngram_score
    from webx.metrics import auc_by_group

    docs = _par(synth.load_documents(spark, sf), spark)
    scored = hashed_ngram_score(docs, _QM_WEIGHTS, bias=_QM_BIAS)
    lab = scored.select(
        "source", "score", (F.col("lang") == "en").cast("int").alias("label")
    )
    return auc_by_group(lab, "score", "label", "source")


def _auc_oracle_sql() -> str:
    from webx import oracles as _o

    w_lit = "[" + ", ".join(str(w) for w in _QM_WEIGHTS) + "]"
    return _o.XXH64_MACROS + (
        "WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), "
        f"{WS_SPLIT_SQL}) AS toks FROM documents), "
        "g AS (SELECT doc_id, unnest(list_transform("
        "generate_series(1, len(toks) - 1), "
        "i -> toks[i] || ' ' || toks[i+1])) AS t "
        "FROM tok WHERE len(toks) >= 2), "
        "vocab AS (SELECT DISTINCT t FROM g), "
        + _o.xxh64_str_ctes("vocab", "t", "t", "vh")
        + ", gw AS (SELECT g.doc_id, "
        f"({w_lit})[(vh.h % 64)::INT + 1] AS w FROM g JOIN vh USING (t)), "
        "sc AS (SELECT doc_id, SUM(w) AS s FROM gw GROUP BY doc_id), "
        "scored AS (SELECT d.source, "
        f"CAST({_QM_BIAS} + COALESCE(sc.s, 0) AS BIGINT) AS score, "
        "CAST(d.lang = 'en' AS INT) AS label "
        "FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id), "
        "hist AS (SELECT source, score, COUNT(*) AS c, SUM(label) AS p "
        "FROM scored GROUP BY 1, 2), "
        "r AS (SELECT *, SUM(c) OVER (PARTITION BY source ORDER BY score) "
        "AS cum FROM hist), "
        "per AS (SELECT source, SUM(p) AS n_pos, SUM(c) - SUM(p) AS n_neg, "
        "SUM(p * (2 * (cum - c) + c + 1)) AS u2 FROM r GROUP BY source) "
        "SELECT source, CAST(n_pos AS BIGINT) AS n_pos, "
        "CAST(n_neg AS BIGINT) AS n_neg, CAST(u2 AS BIGINT) AS u2, "
        "CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
        "CAST(u2 - n_pos * (n_pos + 1) AS DOUBLE) / "
        "CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc FROM per"
    )


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time (as-of) join: every purchase event matched to the
    user's latest view event at-or-before it (webx/joins.py union-tag
    formulation — ONE shuffle, no candidate-pair blow-up). The oracle
    is DuckDB's native ASOF LEFT JOIN, a genuinely independent
    implementation of the same semantics."""
    from webx.joins import asof_join

    ev = spark.read.parquet(f"{sf}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    return asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=("view_event_id", "view_ts", "view_value"),
    )


_RANGE_BANDS = [
    (0.0, 1.0, "micro"),
    (1.0, 5.0, "tiny"),
    (5.0, 25.0, "small"),
    (25.0, 100.0, "mid"),
    (100.0, 250.0, "large"),
    (250.0, 500.0, "huge"),
]


def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-containment join of event values into half-open bands
    via the bucketed equi-join (webx/joins.py): intervals explode to
    covered width-25 buckets, hash join on the bucket, exact re-check —
    the plan that stays a hash join when the interval table outgrows
    BroadcastNestedLoop. Oracle: the plain theta join."""
    from webx.joins import range_join_bucketed

    ev = spark.read.parquet(f"{sf}/events.parquet").filter(
        F.col("event_id") < 2000
    )
    bands = spark.createDataFrame(_RANGE_BANDS, "lo double, hi double, band string")
    out = range_join_bucketed(
        ev.select("event_id", "value"), bands, "value", bucket_width=25.0
    )
    return out.select("event_id", "value", "band", "lo", "hi")


def q_cms_heavy(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min frequency estimates (webx/sketch.py): one depth×width
    sketch build over event user_ids (map-side-collapsing hash agg),
    then per-user point estimates = min over rows — with the exact
    count alongside so the never-undercount guarantee is visible. 150
    users in a 4×64 sketch forces real collisions; the oracle replays
    the fixed XXH64 hash family cell-for-cell."""
    from webx.sketch import cms_build, cms_estimate

    ev = spark.read.parquet(f"{sf}/events.parquet")
    sketch = cms_build(ev, "user_id", width=64, depth=4)
    est = cms_estimate(sketch, ev, "user_id", width=64, depth=4)
    true = ev.groupBy("user_id").agg(F.count("*").alias("n_true"))
    return true.join(est, "user_id").select("user_id", "n_true", "estimate")


def q_quality_terciles(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split: per-language terciles
    of the (integer, oracle-exact) hashed-bigram quality score —
    NTILE(3) over (lang, score DESC, doc_id). CCNet buckets on LM
    perplexity; the integer classifier score keeps the same shape
    engine-exact (float ppl ordering could differ in the last ulp
    across engines). One window shuffle on lang."""
    from pyspark.sql import Window

    from webx.classifier import hashed_ngram_score

    docs = synth.load_documents(spark, sf)
    scored = hashed_ngram_score(_par(docs, spark), _QM_WEIGHTS, bias=_QM_BIAS)
    w = Window.partitionBy("lang").orderBy(F.desc("score"), "doc_id")
    t = F.ntile(3).over(w)
    bucket = (
        F.when(t == 1, "head").when(t == 2, "middle").otherwise("tail")
    )
    return scored.select("doc_id", "lang", "score", bucket.alias("bucket"))


def q_dedup_against(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-snapshot dedup (webx/dedup.py dedup_against): keep only
    documents whose text hash is absent from the prior corpus (here:
    the doc_id%3==0 slice plays the accumulated dumps) — the rolling
    "dedup dump N against dumps 1..N-1" pass of CCNet/RefinedWeb.
    Prior side shrinks to distinct 8-byte hashes before the anti-join."""
    from webx.dedup import dedup_against

    docs = _par(synth.load_documents(spark, sf), spark)
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    return dedup_against(docs, prior, key="text").select("doc_id", "lang")


def _asof_oracle_sql() -> str:
    return (
        "WITH p AS (SELECT event_id, user_id, ts FROM events "
        "WHERE event_type = 'purchase'), "
        "v AS (SELECT user_id, ts, event_id AS view_event_id, "
        "value AS view_value FROM events WHERE event_type = 'view') "
        "SELECT p.event_id, p.user_id, p.ts, v.view_event_id, "
        "v.ts AS view_ts, v.view_value "
        "FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts"
    )


def _range_join_oracle_sql() -> str:
    vals = ", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in _RANGE_BANDS)
    return (
        f"SELECT e.event_id, e.value, b.band, "
        f"CAST(b.lo AS DOUBLE) AS lo, CAST(b.hi AS DOUBLE) AS hi "
        f"FROM events e JOIN (VALUES {vals}) b(lo, hi, band) "
        f"ON e.value >= b.lo AND e.value < b.hi WHERE e.event_id < 2000"
    )


def _cms_oracle_sql(width: int = 64, depth: int = 4) -> str:
    from webx import oracles as _o

    cell = (
        "((xsigned(xhash_int(r, xhash_long(xunsigned(user_id), 42::HUGEINT)))"
        f" % {width}) + {width}) % {width}"
    )
    return _o.XXH64_MACROS + (
        f"WITH rows_ AS (SELECT unnest(generate_series(0, {depth - 1})) AS r), "
        f"cells AS (SELECT r AS row, {cell} AS cell "
        "FROM events CROSS JOIN rows_), "
        "sketch AS (SELECT row, cell, count(*) AS cnt FROM cells "
        "GROUP BY row, cell), "
        "probe AS (SELECT DISTINCT user_id FROM events), "
        f"pcells AS (SELECT user_id, r AS row, {cell} AS cell "
        "FROM probe CROSS JOIN rows_), "
        "est AS (SELECT user_id, min(coalesce(s.cnt, 0)) AS estimate "
        "FROM pcells p LEFT JOIN sketch s USING (row, cell) "
        "GROUP BY user_id), "
        "tru AS (SELECT user_id, count(*) AS n_true FROM events "
        "GROUP BY user_id) "
        "SELECT t.user_id, t.n_true, CAST(e.estimate AS BIGINT) AS estimate "
        "FROM tru t JOIN est e USING (user_id)"
    )


def _quality_terciles_oracle_sql() -> str:
    from webx import oracles as _o

    base = _quality_model_oracle_sql()[len(_o.XXH64_MACROS):]
    return _o.XXH64_MACROS + (
        f"WITH base AS ({base}) "
        "SELECT doc_id, lang, score, "
        "CASE NTILE(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) "
        "WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket "
        "FROM (SELECT b.doc_id, d.lang, b.score FROM base b "
        "JOIN documents d USING (doc_id))"
    )


def _dedup_against_oracle_sql() -> str:
    from webx import oracles as _o

    return _o.XXH64_MACROS + (
        "WITH dd AS (SELECT doc_id, text FROM documents), "
        + _o.xxh64_str_ctes("dd", "doc_id", "text", "xh")
        + " SELECT d.doc_id, d.lang FROM documents d JOIN xh USING (doc_id) "
        "WHERE xh.h NOT IN (SELECT h FROM xh WHERE doc_id % 3 = 0)"
    )


def q_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding event-time windows (2h window / 30min slide): every
    event lands in exactly 4 epoch-aligned windows — `F.window` with a
    slide, the structured-streaming window shape run in batch. The
    oracle replays the window grid with integer microsecond arithmetic
    (epoch_us // slide), no float time math."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = F.window("ts", "2 hours", "30 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )


def q_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 slowly-changing-dimension intervals from the event
    stream: per user, each event's state is valid [ts, next ts) with an
    open current row — `lead` over (user_id, ts), the standard
    upsert-log → validity-interval rewrite (one window shuffle on the
    key, no self-join)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


def q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: stage k
    counts users whose first stage-k event follows their first
    stage-(k-1) event. Three tiny per-user aggregates chained by
    broadcast joins — each stage's frame is ≤ one row per user, so at
    10^9 users this is three hash aggs on the user key and nothing
    quadratic."""
    ev = spark.read.parquet(f"{sf}/events.parquet")

    def first_after(etype: str, prev: DataFrame | None, prev_col: str | None):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(f"t_{etype}"))
        return (
            e.join(F.broadcast(prev), "user_id")
            .filter(F.col("ts") > F.col(prev_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"t_{etype}"))
        )

    views = first_after("view", None, None)
    clicks = first_after("click", views, "t_view")
    buys = first_after("purchase", clicks, "t_click")
    return (
        views.agg(F.count("*").alias("n_viewed"))
        .crossJoin(clicks.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(buys.agg(F.count("*").alias("n_purchased_after_click")))
    )


def q_rolling_avg(spark: SparkSession, sf: str) -> DataFrame:
    """7-day trailing revenue per event type: a RANGE-frame window over
    the day's epoch seconds (rangeBetween −6d..0) on top of a daily
    pre-aggregate — the pre-agg collapses the corpus to days×types
    rows BEFORE the window, so the sort is trivial at any scale.
    Integer cents end-to-end; the trailing average divides two exact
    integers once."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf}/events.parquet")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("day_cents"))
    sec = F.unix_timestamp("day")
    w = (
        Window.partitionBy("event_type")
        .orderBy(sec)
        .rangeBetween(-6 * 86400, 0)
    )
    roll = F.sum("day_cents").over(w)
    ndays = F.count("*").over(w)
    return daily.select(
        "day",
        "event_type",
        "day_cents",
        roll.alias("trailing7_cents"),
        (roll.cast("double") / ndays).alias("trailing7_avg_cents"),
    )


def q_cms_join_size(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation from two Count-Min sketches (the
    AMS/CM inner-product): |events ⋈ orders on user/cust key| estimated
    without running the join, alongside the true size — the
    sketch-level answer to sizing a shuffle before paying for it."""
    from webx.sketch import cms_build, cms_join_size

    ev = spark.read.parquet(f"{sf}/events.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_custkey").alias("user_id")
    )
    sa = cms_build(ev, "user_id", width=256, depth=4)
    sb = cms_build(orders, "user_id", width=256, depth=4)
    est = cms_join_size(sa, sb)
    true = (
        ev.select("user_id")
        .join(orders, "user_id")
        .agg(F.count("*").alias("true_join_size"))
    )
    return est.crossJoin(true)


def _sliding_window_oracle_sql() -> str:
    return (
        "WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events), "
        "g AS (SELECT event_type, value, "
        "make_timestamp(((us // 1800000000) - i) * 1800000000) AS window_start "
        "FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)) "
        "SELECT window_start, window_start + INTERVAL 2 HOUR AS window_end, "
        "event_type, count(*) AS n_events, "
        "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
        "FROM g GROUP BY window_start, event_type"
    )


def _scd2_oracle_sql() -> str:
    return (
        "SELECT event_id, user_id, ts AS effective_from, "
        "LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS effective_to, "
        "CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS INT) "
        "AS is_current FROM events"
    )


def _funnel_oracle_sql() -> str:
    return (
        "WITH v AS (SELECT user_id, min(ts) AS t_view FROM events "
        "WHERE event_type = 'view' GROUP BY user_id), "
        "c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e "
        "JOIN v ON e.user_id = v.user_id "
        "WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id), "
        "p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e "
        "JOIN c ON e.user_id = c.user_id "
        "WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id) "
        "SELECT (SELECT count(*) FROM v) AS n_viewed, "
        "(SELECT count(*) FROM c) AS n_clicked_after_view, "
        "(SELECT count(*) FROM p) AS n_purchased_after_click"
    )


def _rolling_avg_oracle_sql() -> str:
    return (
        "WITH daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, "
        "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS day_cents "
        "FROM events GROUP BY day, event_type), "
        "w AS (SELECT day, event_type, day_cents, "
        "CAST(sum(day_cents) OVER fr AS BIGINT) AS trailing7_cents, "
        "count(*) OVER fr AS n_days FROM daily "
        "WINDOW fr AS (PARTITION BY event_type "
        "ORDER BY CAST(epoch(day) AS BIGINT) "
        "RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)) "
        "SELECT day, event_type, day_cents, trailing7_cents, "
        "CAST(trailing7_cents AS DOUBLE) / n_days AS trailing7_avg_cents FROM w"
    )


def _cms_join_size_oracle_sql(width: int = 256, depth: int = 4) -> str:
    from webx import oracles as _o

    cell = (
        "((xsigned(xhash_int(r, xhash_long(xunsigned(user_id), 42::HUGEINT)))"
        f" % {width}) + {width}) % {width}"
    )
    return _o.XXH64_MACROS + (
        f"WITH rows_ AS (SELECT unnest(generate_series(0, {depth - 1})) AS r), "
        f"ca AS (SELECT r AS row, {cell} AS cell "
        "FROM events CROSS JOIN rows_), "
        "sa AS (SELECT row, cell, count(*) AS cnt FROM ca GROUP BY row, cell), "
        "ob AS (SELECT o_custkey AS user_id FROM orders), "
        f"cb AS (SELECT r AS row, {cell} AS cell FROM ob CROSS JOIN rows_), "
        "sb AS (SELECT row, cell, count(*) AS cnt FROM cb GROUP BY row, cell), "
        "ip AS (SELECT sa.row, sum(sa.cnt * sb.cnt) AS ip FROM sa "
        "JOIN sb USING (row, cell) GROUP BY sa.row), "
        "tru AS (SELECT count(*) AS true_join_size FROM events e "
        "JOIN ob USING (user_id)) "
        "SELECT CAST((SELECT min(ip) FROM ip) AS BIGINT) AS join_size_est, "
        "(SELECT true_join_size FROM tru) AS true_join_size"
    )


def q_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit salt-bucket skew join (webx/joins.py salted_join):
    events × customer-segment dim on the skew-prone user key, big side
    salted by a whole-row hash (deterministic — replayable shuffles,
    unlike rand() salts), small side replicated ×8. Semantically a
    plain equi-join (the oracle), physically a (key, salt) join that
    spreads any mega-key across 8 tasks where AQE skew handling cannot
    reach (streaming stages, non-SMJ paths)."""
    from webx.joins import salted_join

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    dim = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = salted_join(ev, dim, key="user_id", salt_buckets=8)
    return out.select("event_id", "user_id", "value", "c_mktsegment")


def q_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) layout keys over (user_id, event second) —
    the ZORDER BY clustering key as a deterministic column
    (webx/layout.py): extract-and-multiply interleave, no shifted data
    bits, engine-exact. Feed to repartitionByRange+sortWithinPartitions
    (cluster_by_zorder) to make file min/max stats tight on BOTH
    dimensions at write time."""
    from webx.layout import zorder_key

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.select(
        "event_id",
        zorder_key(F.col("user_id"), F.unix_timestamp("ts"), bits=31).alias(
            "zval"
        ),
    )


def q_hilbert(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert-curve layout key (webx/layout.py with_hilbert_key) over
    (user_id, event second) — Z-order's better-locality sibling:
    consecutive indices are always grid-adjacent, so file min/max stats
    come out tighter than Morton for the same file count. 16 narrow
    codegen steps (the 4-state automaton materialized per bit level),
    zero shuffle; the oracle replays identical integer CASE/mask/shift
    arithmetic."""
    from webx.layout import with_hilbert_key

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id",
        F.col("user_id").alias("hx_in"),
        F.unix_timestamp("ts").alias("hy_in"),
    )
    return with_hilbert_key(ev, "hx_in", "hy_in", bits=16).select(
        "event_id", "hval"
    )


def q_zonemap_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map skipping estimator (webx/layout.py zonemap_skip_stats):
    the measurement that justifies a layout rewrite BEFORE touching
    100 TB. Events are packed into 200-row files under three layouts —
    arrival order, single-column sort (user_id), and Z-order over
    (user_id, 256-bucket time) — and a 2-D range predicate counts the
    files whose per-file min/max zone maps cannot skip. rows_match (the
    exact hit count, layout-invariant) calibrates: perfect layout reads
    ceil(rows_match/200) files, hash-scatter reads all. Pure integer
    arithmetic end-to-end (bucketing via DIV, Morton via
    extract-and-multiply) ⇒ the oracle replays every step exactly."""
    from webx.layout import zonemap_skip_stats, zorder_key

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ets")
    )
    g = ev.agg(F.min("ets").alias("tmin"), F.max("ets").alias("tmax"))
    p = ev.crossJoin(F.broadcast(g)).select(
        "event_id",
        "user_id",
        F.expr("(ets - tmin) * 256 DIV (tmax - tmin + 1)").alias("tb"),
    )
    p = p.withColumn("zkey", zorder_key(F.col("user_id"), F.col("tb"), bits=8))
    layouts = {
        "natural": [F.col("event_id")],
        "single_sort": [F.col("user_id"), F.col("tb"), F.col("event_id")],
        "zorder": [F.col("zkey"), F.col("event_id")],
    }
    return zonemap_skip_stats(
        p, "user_id", "tb", layouts, capacity=200,
        x_range=(20, 39), y_range=(64, 127),
    )


def _zonemap_prune_oracle_sql() -> str:
    from webx.layout import zorder_key_sql

    z = zorder_key_sql("user_id", "tb", bits=8)
    pred = "zxhi >= 20 AND zxlo <= 39 AND zyhi >= 64 AND zylo <= 127"
    return (
        "WITH b AS (SELECT event_id, user_id, "
        "CAST(floor(epoch(ts)) AS BIGINT) AS ets FROM events), "
        "g AS (SELECT min(ets) AS tmin, max(ets) AS tmax FROM b), "
        "p AS (SELECT event_id, user_id, "
        "(ets - tmin) * 256 // (tmax - tmin + 1) AS tb FROM b, g), "
        f"pz AS (SELECT *, {z} AS zkey FROM p), "
        "lay AS ("
        "SELECT 'natural' AS layout, user_id, tb, "
        "row_number() OVER (ORDER BY event_id) AS rn FROM pz "
        "UNION ALL SELECT 'single_sort', user_id, tb, "
        "row_number() OVER (ORDER BY user_id, tb, event_id) FROM pz "
        "UNION ALL SELECT 'zorder', user_id, tb, "
        "row_number() OVER (ORDER BY zkey, event_id) FROM pz), "
        "z AS (SELECT layout, (rn - 1) // 200 AS file_id, "
        "min(user_id) AS zxlo, max(user_id) AS zxhi, "
        "min(tb) AS zylo, max(tb) AS zyhi, count(*) AS nrows, "
        "SUM(CASE WHEN user_id BETWEEN 20 AND 39 AND tb BETWEEN 64 AND 127 "
        "THEN 1 ELSE 0 END) AS nhit "
        "FROM lay GROUP BY 1, 2) "
        "SELECT layout, CAST(count(*) AS BIGINT) AS n_files, "
        f"CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS files_read, "
        f"CAST(SUM(CASE WHEN {pred} THEN nrows ELSE 0 END) AS BIGINT) AS rows_read, "
        "CAST(SUM(nhit) AS BIGINT) AS rows_match "
        "FROM z GROUP BY layout"
    )


def _hilbert_oracle_sql() -> str:
    from webx.layout import hilbert_key_sql

    return hilbert_key_sql(
        "SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets "
        "FROM events",
        "user_id",
        "ets",
        bits=16,
        keep="event_id",
    )


def _salted_join_oracle_sql() -> str:
    return (
        "SELECT e.event_id, e.user_id, e.value, c.c_mktsegment "
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey"
    )


def _zorder_oracle_sql() -> str:
    from webx.layout import zorder_key_sql

    z = zorder_key_sql("user_id", "CAST(floor(epoch(ts)) AS BIGINT)", bits=31)
    return f"SELECT event_id, {z} AS zval FROM events"


def q_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Lloyd's KMeans (webx/kmeans.py), 8 clusters × 3
    iterations, bit-exact across engines: integer-quantized coords make
    the update order-independent, pinned-fold double L2 makes the
    argmin reproducible, empty clusters keep their centroid. The oracle
    replays ALL THREE iterations as unrolled CTEs — the iterative
    algorithm category done with a full value oracle instead of the
    sanctioned rows-only fallback."""
    from webx.kmeans import kmeans_lloyd

    emb = _emb(spark, sf).select("vec_id", "embedding")
    return kmeans_lloyd(emb, k=8, iters=3, scale=1024)


def _kmeans_oracle_sql() -> str:
    from webx.kmeans import kmeans_oracle_sql

    return kmeans_oracle_sql(k=8, iters=3, scale=1024)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Wide per-user activity matrix via `groupBy().pivot()` with an
    EXPLICIT value list — the form that stays one pass (implicit pivot
    runs a distinct-scan job first to discover columns, a silent extra
    stage at crawl scale). Missing cells coalesce to 0."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    wide = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Melt the wide matrix back to (user_id, event_type, n) with
    `DataFrame.unpivot` (Spark's STACK/UNPIVOT relational op) —
    round-tripping the pivot proves both directions; zero-count cells
    survive the melt (they exist as rows, unlike the raw group-by)."""
    wide = q_pivot(spark, sf)
    out = wide.unpivot(
        ids=["user_id"],
        values=[f"n_{t}" for t in _EVENT_TYPES],
        variableColumnName="event_type",
        valueColumnName="n",
    )
    return out.select(
        "user_id",
        F.expr("substring(event_type, 3)").alias("event_type"),
        "n",
    )


def q_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of event values via `width_bucket` — the
    one-pass profiling shape (bucket id is a pure projection, ONE
    hash agg; no sort, no percentile buffer)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    b = F.width_bucket(F.col("value"), F.lit(0.0), F.lit(500.0), F.lit(20))
    return (
        ev.select(b.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo_seen"),
            F.max("value").alias("hi_seen"),
        )
    )


def q_length_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-language length outliers: median + MAD (median
    absolute deviation), flag docs beyond median + 3·1.4826·MAD — the
    outlier gate that, unlike mean/stddev, a few megadocs cannot drag.
    Exact `percentile` twice (both interpolations proven ≡ DuckDB
    quantile_cont); per-lang stats broadcast back. Same scale caveat
    as q_length_percentiles: approx_percentile is the 100× path."""
    docs = synth.load_documents(spark, sf).select("doc_id", "lang", "n_chars")
    med = docs.groupBy("lang").agg(
        F.percentile("n_chars", 0.5).alias("med")
    )
    with_med = docs.join(F.broadcast(med), "lang")
    mad = with_med.groupBy("lang").agg(
        F.percentile(F.abs(F.col("n_chars") - F.col("med")), 0.5).alias("mad")
    )
    out = with_med.join(F.broadcast(mad), "lang")
    thresh = F.col("med") + F.lit(3 * 1.4826) * F.col("mad")
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars").cast("double") > thresh).cast("int").alias("is_outlier"),
    )


def _host_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic planted host multigraph from document arithmetic:
    src = doc_id%7, dst = (src + 1 + doc_id%3) % 7 — varied in/out
    degrees, no self-loops, engine-mirrorable."""
    docs = synth.load_documents(spark, sf).select("doc_id")
    src = (F.col("doc_id") % 7).cast("int")
    dst = ((src + 1 + F.col("doc_id") % 3) % 7).cast("int")
    return (
        docs.select(src.alias("src"), dst.alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


_HOST_EDGES_SQL = (
    "SELECT CAST(doc_id % 7 AS INT) AS src, "
    "CAST((doc_id % 7 + 1 + doc_id % 3) % 7 AS INT) AS dst, "
    "count(*) AS w FROM documents GROUP BY 1, 2"
)


def q_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting on the undirected host graph — the
    degree-ordered formulation: canonicalize each edge to (lo, hi),
    then the two-join wedge closure only over ordered triples a<b<c,
    so every triangle is produced exactly once and the join fan-out is
    bounded by the ordered adjacency (the standard web-graph clustering
    -coefficient input at scale)."""
    e = _host_edges(spark, sf)
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


def q_hits(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the weighted host
    graph, TWO unnormalized iterations in exact integer arithmetic —
    float HITS normalizes by an L2 norm each step (order-dependent
    sums, not oracle-able); deferring normalization keeps every
    intermediate an integer, so the oracle replays both iterations
    bit-for-bit. Each half-step is one edge join + sum aggregation —
    the same shuffle shape PageRank pays."""
    e = _host_edges(spark, sf)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # h0 = 1 for all nodes
    a1 = e.groupBy("dst").agg(F.sum("w").alias("auth"))  # Σ_{u→v} w·h0(u)
    h1 = (
        e.join(a1, e.dst == a1.dst)
        .groupBy("src")
        .agg(F.sum(F.col("w") * F.col("auth")).alias("hub"))
    )
    a2 = (
        e.join(h1, e.src == h1.src)
        .groupBy("dst")
        .agg(F.sum(F.col("w") * F.col("hub")).alias("auth"))
    )
    return (
        nodes.join(a2.withColumnRenamed("dst", "node"), "node", "left")
        .join(h1.withColumnRenamed("src", "node"), "node", "left")
        .select(
            "node",
            F.coalesce("auth", F.lit(0)).alias("authority"),
            F.coalesce("hub", F.lit(0)).alias("hub"),
        )
    )


def q_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B|/|A| for adjacent
    doc pairs — the measure that catches quotation/syndication
    (a short doc fully inside a long one scores ~1 one way, low the
    other; symmetric Jaccard misses it, Broder 1997's resemblance vs
    containment distinction). Distinct word-3-shingle sets, exact
    integer intersection, one double division per direction."""
    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    toks = F.split(F.trim("text"), "[ \\t\\r\\n]+")
    sh = F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    s = docs.select("doc_id", sh.alias("sh"))
    a = s.alias("a")
    b = s.alias("b")
    pairs = a.join(
        b, F.col("b.doc_id") == F.col("a.doc_id") + 1
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.size(F.array_intersect("a.sh", "b.sh")).alias("n_common"),
        F.size("a.sh").alias("n_a"),
        F.size("b.sh").alias("n_b"),
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        (F.col("n_common") / F.col("n_a")).alias("containment_a"),
        (F.col("n_common") / F.col("n_b")).alias("containment_b"),
    )


def _pivot_oracle_sql() -> str:
    cols = ", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
        for t in _EVENT_TYPES
    )
    return f"SELECT user_id, {cols} FROM events GROUP BY user_id"


def _unpivot_oracle_sql() -> str:
    return (
        "WITH u AS (SELECT DISTINCT user_id FROM events), "
        "t AS (SELECT unnest(main.list_value("
        + ", ".join(f"'{t}'" for t in _EVENT_TYPES)
        + ")) AS event_type), "
        "c AS (SELECT user_id, event_type, count(*) AS n FROM events "
        "GROUP BY user_id, event_type) "
        "SELECT u.user_id, t.event_type, COALESCE(c.n, 0) AS n "
        "FROM u CROSS JOIN t LEFT JOIN c USING (user_id, event_type)"
    )


def _value_histogram_oracle_sql() -> str:
    # DuckDB has no width_bucket; mirror Spark's arithmetic exactly:
    # bucket = floor((v - lo) / ((hi - lo) / n)) + 1, clamped to 0 / n+1
    return (
        "SELECT (CASE WHEN value < 0.0 THEN 0 WHEN value >= 500.0 THEN 21 "
        "ELSE CAST(floor(value / 25.0) AS BIGINT) + 1 END) AS bucket, "
        "count(*) AS n, min(value) AS lo_seen, max(value) AS hi_seen "
        "FROM events GROUP BY 1"
    )


def _length_outliers_oracle_sql() -> str:
    return (
        "WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med "
        "FROM documents GROUP BY lang), "
        "wm AS (SELECT d.doc_id, d.lang, d.n_chars, m.med FROM documents d "
        "JOIN med m USING (lang)), "
        "mad AS (SELECT lang, quantile_cont(abs(n_chars - med), 0.5) AS mad "
        "FROM wm GROUP BY lang) "
        "SELECT w.doc_id, w.lang, w.n_chars, "
        "CAST(CAST(w.n_chars AS DOUBLE) > (w.med + 3 * 1.4826 * m.mad) AS INT) "
        "AS is_outlier FROM wm w JOIN mad m USING (lang)"
    )


def _triangles_oracle_sql() -> str:
    return (
        f"WITH e AS ({_HOST_EDGES_SQL}), "
        "und AS (SELECT DISTINCT least(src, dst) AS a, "
        "greatest(src, dst) AS b FROM e WHERE src <> dst), "
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
        "FROM und e1 JOIN und e2 ON e1.b = e2.a "
        "JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) "
        "SELECT node, count(*) AS n_triangles FROM ("
        "SELECT unnest(main.list_value(x, y, z)) AS node FROM tri) "
        "GROUP BY node"
    )


def _hits_oracle_sql() -> str:
    return (
        f"WITH e AS ({_HOST_EDGES_SQL}), "
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
        "a1 AS (SELECT dst, sum(w) AS auth FROM e GROUP BY dst), "
        "h1 AS (SELECT e.src, sum(e.w * a1.auth) AS hub FROM e "
        "JOIN a1 USING (dst) GROUP BY e.src), "
        "a2 AS (SELECT e.dst, sum(e.w * h1.hub) AS auth FROM e "
        "JOIN h1 USING (src) GROUP BY e.dst) "
        "SELECT n.node, COALESCE(a2.auth, 0) AS authority, "
        "COALESCE(h1.hub, 0) AS hub FROM nodes n "
        "LEFT JOIN a2 ON a2.dst = n.node LEFT JOIN h1 ON h1.src = n.node"
    )


def _containment_oracle_sql() -> str:
    return (
        "WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), "
        f"{WS_SPLIT_SQL}) AS t FROM documents), "
        "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN "
        "list_distinct(list_transform(generate_series(1, len(t) - 2), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) "
        "ELSE main.list_value() END AS sh FROM toks) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_common, "
        "CAST(len(a.sh) AS INT) AS n_a, CAST(len(b.sh) AS INT) AS n_b, "
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) "
        "AS containment_a, "
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh) "
        "AS containment_b "
        "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"
    )


def q_topk_partial(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user top-3 events by value via the TWO-PHASE top-k
    (webx/agg.py): each input partition prunes to its local top-3
    before the exchange, so ≤ k·n_partitions rows per key shuffle
    instead of the corpus — answer identical to the plain window (the
    oracle), plan asserted in test_agg.py."""
    from webx.agg import topk_per_key

    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = topk_per_key(
        ev, key="user_id", order_col="value", k=3, tiebreak="event_id"
    )
    return out.select("user_id", "event_id", "value", "rank")


def q_cogroup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user reconciliation of two event slices via
    cogroup().applyInPandas (Spark's two-sided grouped map): purchases
    vs views arrive as aligned per-key pandas frames in ONE co-shuffle
    — n/first-ts each side plus how many views predate the first
    purchase, without join fan-out."""
    from webx.agg import cogroup_stats

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return cogroup_stats(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
        key="user_id",
    )


def _topk_partial_oracle_sql() -> str:
    return (
        "SELECT user_id, event_id, value, CAST(rank AS INT) AS rank FROM ("
        "SELECT user_id, event_id, value, ROW_NUMBER() OVER ("
        "PARTITION BY user_id ORDER BY value DESC, event_id) AS rank "
        "FROM events) WHERE rank <= 3"
    )


def _cogroup_stats_oracle_sql() -> str:
    return (
        "WITH p AS (SELECT user_id, count(*) AS n_left, min(ts) AS fl "
        "FROM events WHERE event_type = 'purchase' GROUP BY user_id), "
        "v AS (SELECT user_id, count(*) AS n_right, min(ts) AS fr "
        "FROM events WHERE event_type = 'view' GROUP BY user_id), "
        "keys AS (SELECT user_id FROM p UNION SELECT user_id FROM v), "
        "pre AS (SELECT e.user_id, count(*) AS nb FROM events e "
        "JOIN p ON e.user_id = p.user_id "
        "WHERE e.event_type = 'view' AND e.ts < p.fl GROUP BY e.user_id) "
        "SELECT k.user_id, COALESCE(p.n_left, 0) AS n_left, "
        "COALESCE(v.n_right, 0) AS n_right, p.fl AS first_left_ts, "
        "v.fr AS first_right_ts, "
        "(CASE WHEN p.user_id IS NOT NULL AND v.user_id IS NOT NULL "
        "THEN COALESCE(pre.nb, 0) ELSE 0 END) AS n_right_before_first_left "
        "FROM keys k LEFT JOIN p USING (user_id) LEFT JOIN v USING (user_id) "
        "LEFT JOIN pre USING (user_id)"
    )


def q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew diagnosis (webx/joins.py skew_report) over a planted
    mega-key distribution (half the corpus on one key): top-5 heavy
    keys with corpus share and ratio-to-median — the number that says
    "salt this join" before the shuffle is paid. One map-side-collapsing
    count agg; only top_n rows leave."""
    from webx.joins import skew_report

    docs = synth.load_documents(spark, sf)
    key = F.when(F.col("doc_id") % 2 == 0, F.lit(0)).otherwise(
        F.col("doc_id") % 50
    )
    return skew_report(docs.select(key.alias("k")), "k", top_n=5)


def q_bloom_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom runtime-filtered join (webx/joins.py bloom_filtered_join):
    the small side's keys become a broadcast bloom bitmap that prunes
    big-side rows BEFORE the join exchange — the manual analog of
    engine runtime filters, exact because the join discards the false
    positives. Allowlist = every 10th customer key; result rows equal
    the plain join (the oracle)."""
    from webx.joins import bloom_filtered_join

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    allow = (
        spark.read.parquet(f"{sf}/customer.parquet")
        .filter((F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") < 150))
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    out = bloom_filtered_join(ev, allow, key="user_id")
    return out.select("event_id", "user_id", "value", "c_mktsegment")


def _skew_report_oracle_sql() -> str:
    return (
        "WITH keyed AS (SELECT (CASE WHEN doc_id % 2 = 0 THEN 0 "
        "ELSE doc_id % 50 END) AS key FROM documents), "
        "counts AS (SELECT key, count(*) AS n FROM keyed GROUP BY key), "
        "stats AS (SELECT quantile_cont(n, 0.5) AS median_n, sum(n) AS total_n "
        "FROM counts), "
        "top AS (SELECT key, n FROM counts ORDER BY n DESC, key LIMIT 5) "
        "SELECT t.key, t.n, CAST(t.n AS DOUBLE) / s.total_n AS share, "
        "CAST(t.n AS DOUBLE) / s.median_n AS ratio_to_median "
        "FROM top t CROSS JOIN stats s"
    )


def _bloom_join_oracle_sql() -> str:
    return (
        "SELECT e.event_id, e.user_id, e.value, c.c_mktsegment "
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
        "WHERE c.c_custkey % 10 = 0 AND c.c_custkey < 150"
    )


_SPAM_SUFFIX_A = " Buy Vіаgra now"   # Cyrillic і and а — invisible to a naive gate
_SPAM_SUFFIX_B = " c-a-s.i$n-o jackpot"
_BLOCK_TERMS = ("viagra", "casino")


def q_blocklist_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Obfuscation-resilient spam gate (webx/textstats.py): homoglyph
    fold (UTS #39 confusables subset) + separator strip + lowercase
    BEFORE the wordlist, so Cyrillic-masked and punctuation-riddled
    terms still hit. Planted: doc_id%7 gets Cyrillic-masked 'viagra',
    doc_id%11 a dotted 'casino'. Pure codegen chain — translate,
    regexp_replace, contains — fused into the scan."""
    from webx.textstats import blocklist_gate, fold_homoglyphs

    docs = synth.load_documents(spark, sf).select("doc_id", "text")
    spiked = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.lit(_SPAM_SUFFIX_A)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 11 == 0, F.lit(_SPAM_SUFFIX_B)).otherwise(
                F.lit("")
            ),
        ),
    )
    out = blocklist_gate(fold_homoglyphs(spiked), _BLOCK_TERMS)
    return out.select("doc_id", "homoglyphs_folded", "blocked_term", "keep")


def _blocklist_gate_oracle_sql() -> str:
    from webx.textstats import HOMOGLYPH_DST, HOMOGLYPH_SRC

    planted = (
        "(text || (CASE WHEN doc_id % 7 = 0 THEN ' Buy Vіаgra now' ELSE '' END)"
        " || (CASE WHEN doc_id % 11 = 0 THEN ' c-a-s.i$n-o jackpot' "
        "ELSE '' END))"
    )
    folded = f"translate({planted}, '{HOMOGLYPH_SRC}', '{HOMOGLYPH_DST}')"
    gone = f"translate({planted}, '{HOMOGLYPH_SRC}', '')"
    canon = f"lower(regexp_replace({folded}, '[^[:alnum:]]', '', 'g'))"
    return (
        f"WITH c AS (SELECT doc_id, {canon} AS canon, "
        f"CAST(length({planted}) - length({gone}) AS INT) "
        "AS homoglyphs_folded FROM documents) "
        "SELECT doc_id, homoglyphs_folded, "
        "(CASE WHEN contains(canon, 'viagra') THEN 'viagra' "
        "WHEN contains(canon, 'casino') THEN 'casino' END) AS blocked_term, "
        "CAST((NOT contains(canon, 'viagra')) AND "
        "(NOT contains(canon, 'casino')) AS INT) AS keep FROM c"
    )


def q_changed_captures(spark: SparkSession, sf: str) -> DataFrame:
    """Within-series change detection: a url's capture survives only if
    its content hash differs from the PREVIOUS capture's (lag window
    per url, ordered by capture index) — the crawl-side "don't
    reprocess unchanged pages" filter at capture granularity
    (incremental_extract's snapshot-level diff, moved into one series).
    Corpus: every page captured 3× with the content mutated only on
    capture 2 for doc_id%3==0 — so keeps = first captures + mutated
    seconds. One window shuffle on url; the hash is 8 bytes/row."""
    from pyspark.sql import Window

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    caps = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("cap_idx"),
        "text",
    ).withColumn(
        "body",
        F.when(
            (F.col("cap_idx") == 1) & (F.col("doc_id") % 3 == 0),
            F.concat(F.col("text"), F.lit("<!--rev-->")),
        ).otherwise(F.col("text")),
    )
    w = Window.partitionBy("doc_id").orderBy("cap_idx")
    h = F.xxhash64("body")
    out = caps.select(
        "doc_id", "cap_idx", h.alias("h"), F.lag(h).over(w).alias("prev_h")
    ).filter(F.col("prev_h").isNull() | (F.col("h") != F.col("prev_h")))
    return out.select("doc_id", "cap_idx")


def q_recrawl_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Recrawl scheduling from capture history (webx/cdx.py
    change_rate_schedule): the Cho & Garcia-Molina bias-corrected
    change-frequency estimator lambda = -ln((n-X+0.5)/(n+0.5))/I over
    an 8-capture series per url, revisit period = 1/lambda. Corpus:
    page doc_id changes every p = 1 + doc_id%4 captures (body carries
    version floor(c/p)), so X = floor(7/p) closed-form — the oracle
    states the estimator directly while Spark detects the changes by
    hash-lag. One window + one same-key agg."""
    from webx.cdx import change_rate_schedule

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    caps = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("cap_idx"),
        "text",
    ).select(
        "doc_id",
        "cap_idx",
        F.concat(
            F.col("text"),
            F.lit("<!--v"),
            F.floor(
                F.col("cap_idx") / (F.lit(1) + F.col("doc_id") % 4)
            ).cast("long"),
            F.lit("-->"),
        ).alias("body"),
    )
    return change_rate_schedule(caps)


def q_budget_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Proportional-fair crawl-budget apportionment: split a global
    fetch budget of 1000 slots across hosts proportional to pending-URL
    counts via the LARGEST-REMAINDER (Hamilton) method — all-integer
    (floor shares + remainder-ranked top-up), so allocation is exact,
    deterministic, and sums to the budget by construction. One count
    agg + one tiny window over the host table; the corpus never
    shuffles twice."""
    from pyspark.sql import Window

    budget = 1000
    docs = synth.load_documents(spark, sf)
    pending = docs.groupBy((F.col("doc_id") % 7).alias("host")).agg(
        F.count("*").alias("n_pending")
    )
    tot = pending.agg(F.sum("n_pending").alias("total")).collect()[0]["total"]
    base = (F.col("n_pending") * budget) / F.lit(int(tot))
    fl = F.floor(base).cast("long")
    rem = F.col("n_pending") * budget - fl * F.lit(int(tot))  # remainder×total
    alloc = pending.select("host", "n_pending", fl.alias("fl"), rem.alias("rem"))
    deficit = budget - alloc.agg(F.sum("fl").alias("s")).collect()[0]["s"]
    w = Window.orderBy(F.desc("rem"), "host")
    return (
        alloc.withColumn("rk", F.row_number().over(w))
        .select(
            "host",
            "n_pending",
            (F.col("fl") + (F.col("rk") <= deficit).cast("long")).alias("slots"),
        )
    )


def _changed_captures_oracle_sql() -> str:
    from webx import oracles as _o

    return _o.XXH64_MACROS + (
        "WITH caps AS (SELECT doc_id, i.cap_idx, "
        "text || (CASE WHEN i.cap_idx = 1 AND doc_id % 3 = 0 "
        "THEN '<!--rev-->' ELSE '' END) AS body "
        "FROM documents CROSS JOIN "
        "(SELECT unnest(generate_series(0, 2)) AS cap_idx) i), "
        + _o.xxh64_str_ctes("caps", "doc_id, cap_idx", "body", "bh")
        + ", lagged AS (SELECT doc_id, cap_idx, h, "
        "LAG(h) OVER (PARTITION BY doc_id ORDER BY cap_idx) AS prev_h FROM bh) "
        "SELECT doc_id, cap_idx FROM lagged "
        "WHERE prev_h IS NULL OR h <> prev_h"
    )


def _budget_allocation_oracle_sql(budget: int = 1000) -> str:
    return (
        "WITH pending AS (SELECT CAST(doc_id % 7 AS BIGINT) AS host, "
        "count(*) AS n_pending FROM documents GROUP BY 1), "
        "tot AS (SELECT sum(n_pending) AS total FROM pending), "
        f"base AS (SELECT host, n_pending, "
        f"(n_pending * {budget}) // t.total AS fl, "
        f"n_pending * {budget} - ((n_pending * {budget}) // t.total) * t.total "
        "AS rem FROM pending CROSS JOIN tot t), "
        f"d AS (SELECT {budget} - sum(fl) AS deficit FROM base), "
        "rk AS (SELECT host, n_pending, fl, "
        "ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS r FROM base) "
        "SELECT rk.host, rk.n_pending, "
        "CAST(rk.fl + (CASE WHEN rk.r <= d.deficit THEN 1 ELSE 0 END) "
        "AS BIGINT) AS slots FROM rk CROSS JOIN d"
    )


def q_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware near-dup survivor policy (webx/dedup.py
    keep_best): within each MinHash cluster only the longest member
    (byte length, ties → lowest doc_id) survives — the RefinedWeb
    keep-the-longest policy replacing keep_list's arbitrary min-id.
    Planted dups drop their last word, so every original outlives its
    shorter copy. Oracle: the full XXH64 pair replay + transitive
    closure + per-cluster argmax."""
    from webx.dedup import keep_best, minhash_neardup

    docs = _docs_with_neardups(spark, sf)
    pairs = minhash_neardup(docs, threshold=0.6).select("id_a", "id_b")
    scored = docs.select("doc_id", F.octet_length("text").alias("score"))
    return keep_best(scored, pairs)


def _keep_best_oracle_sql() -> str:
    from webx import oracles as _o

    inner = _o.minhash_oracle_sql(threshold=0.6)
    assert inner.startswith(_o.XXH64_MACROS)
    inner_body = inner[len(_o.XXH64_MACROS):]
    return _o.XXH64_MACROS + (
        "WITH RECURSIVE pairs AS (" + inner_body + "), "
        "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs), "
        "reach AS (SELECT a AS node, b AS r FROM edges "
        "UNION SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node), "
        "clusters AS (SELECT node AS doc_id, least(node, min(r)) AS cid "
        "FROM reach GROUP BY node), "
        "corpus2 AS (SELECT doc_id, text FROM documents "
        "UNION ALL SELECT doc_id + 1000000, "
        r"regexp_replace(text, '\s+\S+$', '') FROM documents WHERE doc_id < 20), "
        "scored AS (SELECT c.doc_id, COALESCE(cl.cid, c.doc_id) AS cid, "
        "octet_length(encode(c.text)) AS s FROM corpus2 c "
        "LEFT JOIN clusters cl USING (doc_id)), "
        "best AS (SELECT cid, doc_id AS best_id FROM ("
        "SELECT cid, doc_id, ROW_NUMBER() OVER (PARTITION BY cid "
        "ORDER BY s DESC, doc_id) AS rn FROM scored) WHERE rn = 1) "
        "SELECT f.doc_id, CAST(f.doc_id = b.best_id AS INT) AS keep "
        "FROM scored f JOIN best b USING (cid)"
    )


def _curate_corpus_pages(spark: SparkSession, sf: str) -> DataFrame:
    """Pipeline input corpus: flagship pages ∪ exact mirrors (doc%3==0,
    same content on mirror.example.net) ∪ near-dup variants (doc%7==1,
    body minus its last word on alt.example.org) — the duplicate mix a
    real crawl snapshot carries."""
    docs = synth.load_documents(spark, sf)
    base = synth.flagship_pages_from_docs(docs)
    dnum = F.regexp_extract("url", r"doc/(\d+)$", 1)
    mirror = synth.flagship_pages_from_docs(
        docs.filter(F.col("doc_id") % 3 == 0)
    ).withColumn("url", F.concat(F.lit("https://mirror.example.net/doc/"), dnum))
    norm = F.trim(F.regexp_replace("text", synth.WS_CLASS, " "))
    altdocs = docs.filter(F.col("doc_id") % 7 == 1).withColumn(
        "text", F.regexp_replace(norm, r" \S+$", "")
    )
    alt = synth.flagship_pages_from_docs(altdocs).withColumn(
        "url", F.concat(F.lit("https://alt.example.org/doc/"), dnum)
    )
    return base.unionByName(mirror).unionByName(alt)


def q_curate_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed end-to-end curation DAG a 100 TB user actually runs
    (jobs/curate.py stage order, each stage the already-oracle-gated
    library operator): extract → Gopher quality gate → exact dedup (keep
    min-url) → MinHash near-dup + keep-longest → 13-gram test-set
    decontamination → per-host cap → greedy sequence packing. ONE oracle
    replays the whole funnel (the minhash XXH64 SQL port runs over the
    mid-pipeline survivor set via its corpus_cte injection point)."""
    from pyspark.sql import Window

    from webx.curate import cap_per_host, contaminated_ids, pack_sequences
    from webx.dedup import keep_best, minhash_neardup
    from webx.textstats import quality_cols

    pages = _par(_curate_corpus_pages(spark, sf), spark)
    ext = run_extraction(pages, CFG).select("url", "text")
    d = F.regexp_extract("url", r"doc/(\d+)$", 1).cast("long")
    ids = ext.select(
        (
            d
            + F.when(F.col("url").startswith("https://alt."), F.lit(1_000_000))
            .otherwise(F.lit(0))
        ).alias("doc_id"),
        "url",
        "text",
    )
    # gate in place: doc_id is not unique (a mirror shares its base's
    # id), and joining the flags back by it would run the extractor twice
    q = ids.filter(quality_cols(min_tokens=30)["keep"])
    w = Window.partitionBy("text").orderBy("url")
    survivors = (
        q.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    )
    # the survivor set feeds four independent downstream branches
    # (signatures, keep-best join, decontam corpus + bench, packing) —
    # checkpoint the boundary or the extractor re-runs once per branch;
    # a checkpoint, unlike persist, also cuts the extractor's lineage out
    # of every later plan
    survivors = survivors.localCheckpoint()
    pairs = minhash_neardup(
        survivors.select("doc_id", "text"), threshold=0.6
    ).select("id_a", "id_b")
    kb = keep_best(
        survivors.select("doc_id", F.octet_length("text").alias("score")), pairs
    )
    nd = survivors.join(kb.filter("keep = 1").select("doc_id"), "doc_id")
    bench = nd.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 1_000_000))
    clean = nd.join(contaminated_ids(nd, bench, n=13), "doc_id", "left_anti")
    hosted = clean.withColumn("host", F.regexp_extract("url", r"//([^/]+)", 1))
    capped = cap_per_host(hosted, max_per_host=40, order_col="doc_id")
    packed = pack_sequences(
        capped, max_tokens=512, group_col="host", order_col="doc_id"
    )
    return packed.select(
        "doc_id", F.col("grp").alias("host"), "n_tokens", "bin"
    )


def _curate_pipeline_oracle_sql() -> str:
    """Full-funnel DuckDB replay: every stage is the SQL mirror of its
    already-gated sibling oracle (quality = q_quality_filter's gates at
    min_tokens=30, exact = min-url window, near-dup = the XXH64 minhash
    port injected over the survivor CTE, keep-best = q_keep_best's
    closure+argmax, decontam = q_decontaminate's 13-gram semi-join, cap
    = q_host_cap's window, pack = a recursive-CTE greedy walk)."""
    from webx import oracles as _o

    inner = _o.minhash_oracle_sql(
        threshold=0.6,
        corpus_cte="corpus AS (SELECT doc_id, text FROM exact_kept)",
    )
    assert inner.startswith(_o.XXH64_MACROS)
    mh_body = inner[len(_o.XXH64_MACROS):]
    return _o.XXH64_MACROS + f"""
WITH RECURSIVE
gold AS (
  SELECT doc_id AS d, {URL} AS url, {GOLDEN} AS text, {NORM} AS nrm
  FROM documents),
corpus0 AS (
  SELECT d AS id, url, text FROM gold
  UNION ALL
  SELECT d, 'https://mirror.example.net/doc/' || CAST(d AS VARCHAR), text
  FROM gold WHERE d % 3 = 0
  UNION ALL
  SELECT d + 1000000, 'https://alt.example.org/doc/' || CAST(d AS VARCHAR),
         ('Doc ' || CAST(d AS VARCHAR) || chr(10)
          || regexp_replace(nrm, ' \\S+$', ''))
  FROM gold WHERE d % 7 = 1),
qtok AS (
  SELECT id, url, text,
         regexp_split_to_array(trim(text), '[ \\t\\r\\n]+') AS toks
  FROM corpus0),
qstat AS (
  SELECT id, url, text, CAST(len(toks) AS INT) AS n_tokens,
    list_sum(list_transform(toks, w -> length(w))) AS sum_len,
    len(list_filter(toks, w -> w IN ('#','...',chr(8230))
        OR starts_with(w, '#'))) AS n_sym,
    len(list_filter(toks, w -> list_contains({STOP_SQL}, lower(w)))) AS n_stop
  FROM qtok),
qkept AS (
  SELECT id, url, text, n_tokens FROM qstat
  WHERE (n_tokens >= 30 AND n_tokens <= 100000)
    AND (sum_len / CAST(greatest(n_tokens, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0)
    AND (n_sym / CAST(greatest(n_tokens, 1) AS DOUBLE) <= 0.1)
    AND (n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE) >= 0.03)),
exact_kept AS MATERIALIZED (
  SELECT id AS doc_id, url, text, n_tokens FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY url) AS rn
    FROM qkept) WHERE rn = 1),
pairs AS MATERIALIZED ({mh_body}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a AS node, b AS r FROM edges
  UNION SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
clusters AS (
  SELECT node AS doc_id, least(node, min(r)) AS cid FROM reach GROUP BY node),
scored AS (
  SELECT e.doc_id, e.url, e.text, e.n_tokens,
         COALESCE(cl.cid, e.doc_id) AS cid,
         octet_length(encode(e.text)) AS s
  FROM exact_kept e LEFT JOIN clusters cl USING (doc_id)),
best AS (
  SELECT cid, doc_id AS best_id FROM (
    SELECT cid, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY s DESC, doc_id) AS rn
    FROM scored) WHERE rn = 1),
nd_kept AS MATERIALIZED (
  SELECT f.doc_id, f.url, f.text, f.n_tokens
  FROM scored f JOIN best b USING (cid) WHERE f.doc_id = b.best_id),
dtok AS (
  SELECT doc_id,
    list_transform(regexp_split_to_array(trim(text), '[ \\t\\r\\n]+'),
                   w -> lower(w)) AS t
  FROM nd_kept),
dgrams AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN len(t) >= 13 THEN
      list_distinct(list_transform(generate_series(1, len(t) - 12),
                                   i -> array_to_string(t[i:i+12], ' ')))
    ELSE [array_to_string(t, ' ')] END AS gs
  FROM dtok),
bench AS (
  SELECT DISTINCT unnest(gs) AS ng FROM dgrams
  WHERE doc_id % 97 = 0 AND doc_id < 1000000),
contaminated AS (
  SELECT DISTINCT doc_id FROM
    (SELECT doc_id, unnest(gs) AS ng FROM dgrams)
  WHERE ng IN (SELECT ng FROM bench)),
hosted AS (
  SELECT doc_id, regexp_extract(url, '//([^/]+)', 1) AS host, n_tokens
  FROM nd_kept WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
capped AS (
  SELECT doc_id, host, n_tokens FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS rk
    FROM hosted) WHERE rk <= 40),
ranked AS (
  SELECT host, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS rn
  FROM capped),
packw AS (
  SELECT host, doc_id, n_tokens, rn,
         0::BIGINT AS bin, CAST(n_tokens AS BIGINT) AS acc
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.host, r.doc_id, r.n_tokens, r.rn,
    CASE WHEN p.acc + r.n_tokens > 512 THEN p.bin + 1 ELSE p.bin END,
    CASE WHEN p.acc + r.n_tokens > 512 THEN CAST(r.n_tokens AS BIGINT)
         ELSE p.acc + r.n_tokens END
  FROM packw p JOIN ranked r ON r.host = p.host AND r.rn = p.rn + 1)
SELECT doc_id, host, n_tokens, bin FROM packw
"""


def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction: typed field pull from the JSON
    ``props`` column via ``from_json`` with an explicit schema — the
    declared-schema form Catalyst can prune and push into the scan
    (schema-on-read without a Python parser in sight). Aggregates the
    extracted field per event type to prove the values, not just the
    parse."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    k = F.from_json("props", "k int").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_url_params(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (Spark 4 table function API surface): explode each
    url's query string into (url, param, value) rows — one UDTF call
    per row, arrow-batched by the engine. Urls are planted with
    ?page=N&ref=hM params from document arithmetic so the oracle is
    closed-form. UDTFs are the lateral-view escape hatch when one input
    row yields a VARIABLE number of typed rows and the logic is too
    gnarly for explode(expr); for fixed shapes prefer codegen explode
    (this query's oracle is exactly that, in SQL)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="url string, param string, value string")
    class ParseQuery:
        def eval(self, url: str):
            if url is None or "?" not in url:
                return
            qs = url.split("?", 1)[1]
            for part in qs.split("&"):
                if not part:
                    continue
                k, _, v = part.partition("=")
                yield url, k, v

    docs = synth.load_documents(spark, sf)
    urls = docs.select(
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/list?page="),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("&ref=h"),
            ((F.col("doc_id") + 1) % 7).cast("string"),
        ).alias("url")
    )
    spark.udtf.register("parse_query", ParseQuery)
    urls.createOrReplaceTempView("_urls_v")
    return spark.sql(
        "SELECT p.url, p.param, p.value FROM _urls_v, "
        "LATERAL parse_query(url) p"
    )


def _json_extract_oracle_sql() -> str:
    return (
        "SELECT event_type, count(*) AS n, "
        "sum(CAST(json_extract_string(props, '$.k') AS INT)) AS sum_k, "
        "min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k, "
        "max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k "
        "FROM events GROUP BY event_type"
    )


def _url_params_oracle_sql() -> str:
    url = (
        "'https://h' || CAST(doc_id % 7 AS VARCHAR) || "
        "'.example.com/list?page=' || CAST(doc_id % 40 AS VARCHAR) || "
        "'&ref=h' || CAST((doc_id + 1) % 7 AS VARCHAR)"
    )
    return (
        f"WITH u AS (SELECT {url} AS url, doc_id FROM documents) "
        "SELECT url, 'page' AS param, CAST(doc_id % 40 AS VARCHAR) AS value "
        "FROM u UNION ALL "
        "SELECT url, 'ref', 'h' || CAST((doc_id + 1) % 7 AS VARCHAR) FROM u"
    )


def q_delete_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Deletion-request propagation (GDPR/DMCA tombstones): a deletion
    list (every 13th doc) anti-joins the corpus AND its derived
    extracted table, and the audit row proves both surfaces dropped the
    SAME set — the compliance invariant (a url deleted upstream but
    surviving in a derivative is the failure mode). Deletion list
    broadcast; both prunes map-side."""
    docs = synth.load_documents(spark, sf)
    tombstones = docs.filter(F.col("doc_id") % 13 == 0).select("doc_id")
    derived = docs.select("doc_id", F.substring("text", 1, 40).alias("snippet"))
    kept_docs = docs.join(F.broadcast(tombstones), "doc_id", "left_anti")
    kept_derived = derived.join(F.broadcast(tombstones), "doc_id", "left_anti")
    return (
        kept_docs.agg(F.count("*").alias("n_docs_kept"))
        .crossJoin(kept_derived.agg(F.count("*").alias("n_derived_kept")))
        .crossJoin(tombstones.agg(F.count("*").alias("n_deleted")))
    )


# Frozen accent-fold pairs (Latin-1/Latin-Extended core) — the search-
# normalization complement of the homoglyph table.
_ACCENT_PAIRS = (
    ("á", "a"), ("à", "a"), ("â", "a"), ("ä", "a"), ("ã", "a"), ("å", "a"),
    ("é", "e"), ("è", "e"), ("ê", "e"), ("ë", "e"),
    ("í", "i"), ("ì", "i"), ("î", "i"), ("ï", "i"),
    ("ó", "o"), ("ò", "o"), ("ô", "o"), ("ö", "o"), ("õ", "o"),
    ("ú", "u"), ("ù", "u"), ("û", "u"), ("ü", "u"),
    ("ç", "c"), ("ñ", "n"), ("ý", "y"),
    ("Á", "A"), ("À", "A"), ("Â", "A"), ("Ä", "A"),
    ("É", "E"), ("È", "E"), ("Ê", "E"), ("Ë", "E"),
    ("Í", "I"), ("Ó", "O"), ("Ö", "O"), ("Ú", "U"), ("Ü", "U"),
    ("Ç", "C"), ("Ñ", "N"),
)
_ACCENT_SRC = "".join(s for s, _ in _ACCENT_PAIRS)
_ACCENT_DST = "".join(d for _, d in _ACCENT_PAIRS)
_ACCENT_SUFFIX = " Café résumé niño Zürich ÀÉÎÕÜ"


def q_strip_accents(spark: SparkSession, sf: str) -> DataFrame:
    """Accent folding over a planted diacritic suffix (frozen pair
    table, one translate projection — the same engine-exact shape as
    the homoglyph fold): text_ascii + accents_folded count. The
    search/matching normalization; like the homoglyph fold, apply to
    MATCH inputs, never to kept text."""
    docs = synth.load_documents(spark, sf).select("doc_id", "text")
    spiked = F.concat("text", F.lit(_ACCENT_SUFFIX))
    folded = F.translate(spiked, _ACCENT_SRC, _ACCENT_DST)
    n = F.length(spiked) - F.length(F.translate(spiked, _ACCENT_SRC, ""))
    return docs.select(
        "doc_id",
        folded.alias("text_ascii"),
        n.cast("int").alias("accents_folded"),
    )


def q_vocab_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary drift between snapshots: fraction of the new
    snapshot's distinct token types absent from the prior snapshot
    (docs split by doc_id parity play the two dumps) — the corpus-
    freshness signal behind 'is this crawl adding anything'. Both
    vocabularies collapse to DISTINCT tokens before the anti-join, so
    the join runs at vocabulary scale, not corpus scale."""
    docs = synth.load_documents(spark, sf).select("doc_id", "text")
    tok = F.explode(F.split(F.trim("text"), "[ \\t\\r\\n]+")).alias("tok")
    prior_vocab = (
        docs.filter(F.col("doc_id") % 2 == 0).select(tok).distinct()
    )
    new_vocab = docs.filter(F.col("doc_id") % 2 == 1).select(tok).distinct()
    novel = new_vocab.join(prior_vocab, "tok", "left_anti")
    return (
        new_vocab.agg(F.count("*").alias("n_new_vocab"))
        .crossJoin(novel.agg(F.count("*").alias("n_novel")))
        .select(
            "n_new_vocab",
            "n_novel",
            (F.col("n_novel") / F.col("n_new_vocab")).alias("novelty_rate"),
        )
    )


def _delete_propagation_oracle_sql() -> str:
    return (
        "SELECT (SELECT count(*) FROM documents WHERE doc_id % 13 <> 0) "
        "AS n_docs_kept, "
        "(SELECT count(*) FROM documents WHERE doc_id % 13 <> 0) "
        "AS n_derived_kept, "
        "(SELECT count(*) FROM documents WHERE doc_id % 13 = 0) AS n_deleted"
    )


def _strip_accents_oracle_sql() -> str:
    spiked = "(text || ' Café résumé niño Zürich ÀÉÎÕÜ')"
    return (
        f"SELECT doc_id, translate({spiked}, '{_ACCENT_SRC}', '{_ACCENT_DST}') "
        "AS text_ascii, "
        f"CAST(length({spiked}) - length(translate({spiked}, '{_ACCENT_SRC}', "
        "'')) AS INT) AS accents_folded FROM documents"
    )


def _vocab_novelty_oracle_sql() -> str:
    return (
        "WITH prior_v AS (SELECT DISTINCT unnest(regexp_split_to_array("
        f"trim(text), {WS_SPLIT_SQL})) AS tok FROM documents "
        "WHERE doc_id % 2 = 0), "
        "new_v AS (SELECT DISTINCT unnest(regexp_split_to_array("
        f"trim(text), {WS_SPLIT_SQL})) AS tok FROM documents "
        "WHERE doc_id % 2 = 1), "
        "novel AS (SELECT tok FROM new_v WHERE tok NOT IN "
        "(SELECT tok FROM prior_v)) "
        "SELECT (SELECT count(*) FROM new_v) AS n_new_vocab, "
        "(SELECT count(*) FROM novel) AS n_novel, "
        "CAST((SELECT count(*) FROM novel) AS DOUBLE) / "
        "(SELECT count(*) FROM new_v) AS novelty_rate"
    )


_MM_TERMS = ("viagra", "casino", "jackpot", "agra")


def q_multi_match(spark: SparkSession, sf: str) -> DataFrame:
    """Dictionary-scale multi-pattern matching (webx/match.py): the
    set of terms present as substrings, OVERLAPS included ('viagra'
    also contains 'agra' — a consuming alternation would miss it).
    The codegen impl runs here (JVM higher-order per-term containment,
    exactly the oracle's list_filter semantics); the Aho-Corasick
    automaton impl — C inner loop — is A/B-proven identical in tests
    and is the 10^5-term path. matched_terms is serialized to a comma
    scalar (the round-2 canonicalizer lesson)."""
    from webx.match import multi_term_match

    docs = synth.load_documents(spark, sf).select("doc_id", "text")
    spiked = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.lit(" Viagra")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" casino jackpot")).otherwise(
                F.lit("")
            ),
        ),
    )
    out = multi_term_match(spiked, _MM_TERMS, impl="regex")
    return out.select(
        "doc_id",
        F.concat_ws(",", "matched_terms").alias("matched"),
        "n_matched",
    )


def q_multi_match_aho(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME contract as q_multi_match through the Aho-Corasick
    automaton path (webx/match.py CompiledAC → _ctok.c wx_ac_find when
    the kernel is built, Python walk otherwise) — the 10^5-term scale
    impl, gated against the identical per-term-containment oracle."""
    from webx.match import multi_term_match

    docs = synth.load_documents(spark, sf).select("doc_id", "text")
    spiked = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 7 == 0, F.lit(" Viagra")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" casino jackpot")).otherwise(
                F.lit("")
            ),
        ),
    )
    out = multi_term_match(spiked, _MM_TERMS, impl="aho")
    return out.select(
        "doc_id",
        F.concat_ws(",", "matched_terms").alias("matched"),
        "n_matched",
    )


def _multi_match_oracle_sql() -> str:
    terms = "main.list_value(" + ", ".join(
        f"'{t}'" for t in sorted(set(_MM_TERMS))
    ) + ")"
    spiked = (
        "lower(text || (CASE WHEN doc_id % 7 = 0 THEN ' Viagra' ELSE '' END)"
        " || (CASE WHEN doc_id % 11 = 0 THEN ' casino jackpot' ELSE '' END))"
    )
    return (
        f"WITH c AS (SELECT doc_id, list_filter({terms}, "
        f"t -> contains({spiked}, t)) AS m FROM documents) "
        "SELECT doc_id, COALESCE(array_to_string(m, ','), '') AS matched, "
        "CAST(len(m) AS INT) AS n_matched FROM c"
    )


def q_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation per event type between value (cents) and
    hour-of-day — computed from EXACT integer moments (Σx, Σy, Σxy,
    Σx², Σy², n are order-independent BIGINT sums; only the final
    closed-form division/sqrt touches floats, once per group). The
    engine-exact alternative to F.corr, whose internal running floats
    are aggregation-order-dependent — same trick as the integer HITS
    and quantized KMeans. One map-side-collapsing agg."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    x = F.floor(F.col("value") * 100).cast("long")
    y = F.hour("ts").cast("long")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = num.cast("double") / F.sqrt(
        denx.cast("double") * deny.cast("double")
    )
    return m.select("event_type", "n", corr.alias("corr_value_hour"))


def q_event_sequence(spark: SparkSession, sf: str) -> DataFrame:
    """Immediate-succession pattern count (MATCH_RECOGNIZE-lite): per
    user, how often a view is DIRECTLY followed by a purchase in the
    event sequence — lead(event_type) over (user, ts), then one count.
    The window formulation of sequence patterns; k-step or gapped
    patterns chain more leads or fall back to a sessionized pass
    (webx/events.py sessionize)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    nxt = F.lead("event_type").over(w)
    hits = ev.select(
        "user_id",
        ((F.col("event_type") == "view") & (nxt == "purchase")).cast(
            "int"
        ).alias("hit"),
    )
    return (
        hits.groupBy("user_id")
        .agg(F.sum("hit").alias("n_view_then_purchase"))
        .filter(F.col("n_view_then_purchase") > 0)
    )


def _correlation_oracle_sql() -> str:
    return (
        "WITH m AS (SELECT event_type, count(*) AS n, "
        "sum(CAST(floor(value * 100) AS BIGINT)) AS sx, "
        "sum(CAST(hour(ts) AS BIGINT)) AS sy, "
        "sum(CAST(floor(value * 100) AS BIGINT) * CAST(hour(ts) AS BIGINT)) "
        "AS sxy, "
        "sum(CAST(floor(value * 100) AS BIGINT) * "
        "CAST(floor(value * 100) AS BIGINT)) AS sxx, "
        "sum(CAST(hour(ts) AS BIGINT) * CAST(hour(ts) AS BIGINT)) AS syy "
        "FROM events GROUP BY event_type) "
        "SELECT event_type, n, "
        "CAST(n * sxy - sx * sy AS DOUBLE) / "
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * "
        "CAST(n * syy - sy * sy AS DOUBLE)) AS corr_value_hour FROM m"
    )


def _event_sequence_oracle_sql() -> str:
    return (
        "WITH s AS (SELECT user_id, event_type, "
        "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS nxt "
        "FROM events) "
        "SELECT user_id, CAST(count(*) FILTER (WHERE event_type = 'view' "
        "AND nxt = 'purchase') AS BIGINT) AS n_view_then_purchase "
        "FROM s GROUP BY user_id "
        "HAVING count(*) FILTER (WHERE event_type = 'view' "
        "AND nxt = 'purchase') > 0"
    )


def q_percentile_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical-CDF placement: each document's cume_dist of length
    within its language — the corpus-relative score normalization used
    before mixing heterogeneous quality signals (a raw length means
    nothing; 'longer than 93% of same-language docs' does). cume_dist
    = rank/N from integer ordering, deterministic across engines. One
    window shuffle on lang."""
    from pyspark.sql import Window

    docs = synth.load_documents(spark, sf).select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars")
    return docs.select(
        "doc_id", "lang", "n_chars", F.cume_dist().over(w).alias("len_pctile")
    )


def _percentile_rank_oracle_sql() -> str:
    return (
        "SELECT doc_id, lang, n_chars, "
        "cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) AS len_pctile "
        "FROM documents"
    )


def q_embedding_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic test-set decontamination (webx/similarity.py): corpus
    vectors whose max pinned-fold cosine against the benchmark set
    (vec_id<16) crosses 0.93 are flagged — the paraphrase-robust
    complement of 13-gram exact decontamination (q_decontaminate).
    Exact copies of benchmark vectors planted at vec_id+3·10^6 MUST
    flag (cos=1). Benchmark broadcast; no corpus shuffle."""
    from webx.similarity import embedding_decontaminate

    emb = _emb(spark, sf).select("vec_id", "embedding")
    bench = emb.filter(F.col("vec_id") < 16)
    corpus = emb.filter(F.col("vec_id") >= 16).unionByName(
        bench.select((F.col("vec_id") + 3_000_000).alias("vec_id"), "embedding")
    )
    return embedding_decontaminate(_par(corpus, spark), bench, threshold=0.93)


def q_confusion_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-centroid classifier confusion matrix over the labeled
    embeddings (webx/kmeans.py centroid_confusion): per-label integer-
    quantized mean centroids, pinned-fold L2 assignment, (label, pred,
    n) — embedding-space separability as an engine-exact eval."""
    from webx.kmeans import centroid_confusion

    return centroid_confusion(_emb(spark, sf).select("vec_id", "embedding", "label"))


def _embedding_decontaminate_oracle_sql() -> str:
    from webx import oracles as _o

    cos = _o._cos("c.embedding", "b.embedding")
    return (
        "WITH bench AS (SELECT vec_id AS bid, embedding FROM embeddings "
        "WHERE vec_id < 16), "
        "corpus AS (SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id >= 16 "
        "UNION ALL SELECT vec_id + 3000000, embedding FROM embeddings "
        "WHERE vec_id < 16), "
        f"per AS (SELECT c.vec_id, max({cos}) AS max_cos "
        "FROM corpus c CROSS JOIN bench b GROUP BY c.vec_id) "
        "SELECT vec_id, max_cos, CAST(max_cos >= 0.93 AS INT) "
        "AS contaminated FROM per"
    )


def _confusion_matrix_oracle_sql() -> str:
    from webx.kmeans import confusion_oracle_sql

    return confusion_oracle_sql()


def q_forward_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Gap filling: forward-fill missing sensor values per series —
    `last(x, ignorenulls)` over (user, ts, rows unbounded preceding),
    the carry-forward idiom for sparse observations (every 5th event
    keeps its value; the rest inherit the latest earlier one). One
    window shuffle; same running-last machinery as the as-of join."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf}/events.parquet")
    sparse = F.when(F.col("event_id") % 5 == 0, F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        sparse.alias("observed"),
        F.last(sparse, ignorenulls=True).over(w).alias("filled"),
    )


def q_day_over_day(spark: SparkSession, sf: str) -> DataFrame:
    """Period-over-period deltas: daily revenue per event type with the
    previous day's value and the change — lag over the days×types
    pre-aggregate (the q_rolling_avg input frame; the window never
    touches raw events). Integer cents; NULL delta on each series'
    first day."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf}/events.parquet")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("cents").over(w)
    return daily.select(
        "day",
        "event_type",
        "cents",
        prev.alias("prev_cents"),
        (F.col("cents") - prev).alias("delta_cents"),
    )


def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted as
    active at each day offset — the (cohort_day, offset, n_users)
    triangle behind every retention curve. Two aggregations (first-seen
    per user is ≤1 row/user and broadcasts back; distinct (user, day)
    collapses map-side); nothing quadratic."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(F.broadcast(first), "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("offset_days"),
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.count("*").alias("n_users"))
    )


def _forward_fill_oracle_sql() -> str:
    return (
        "WITH s AS (SELECT event_id, user_id, ts, "
        "(CASE WHEN event_id % 5 = 0 THEN value END) AS observed "
        "FROM events) "
        "SELECT event_id, user_id, observed, "
        "last_value(observed IGNORE NULLS) OVER ("
        "PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled FROM s"
    )


def _day_over_day_oracle_sql() -> str:
    return (
        "WITH daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) "
        "AS day, event_type, "
        "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents "
        "FROM events GROUP BY day, event_type) "
        "SELECT day, event_type, cents, "
        "LAG(cents) OVER (PARTITION BY event_type ORDER BY day) AS prev_cents, "
        "cents - LAG(cents) OVER (PARTITION BY event_type ORDER BY day) "
        "AS delta_cents FROM daily"
    )


def _retention_cohorts_oracle_sql() -> str:
    return (
        "WITH days AS (SELECT DISTINCT user_id, "
        "CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events), "
        "first AS (SELECT user_id, min(day) AS cohort_day FROM days "
        "GROUP BY user_id) "
        "SELECT f.cohort_day, date_diff('day', f.cohort_day, d.day) "
        "AS offset_days, count(*) AS n_users "
        "FROM days d JOIN first f USING (user_id) "
        "GROUP BY f.cohort_day, offset_days"
    )


def q_host_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of per-host document concentration — the
    crawl-balance diagnostic (0 = perfectly even hosts, →1 = one
    mega-host owns the corpus; pairs with q_skew_report's per-key
    view). Computed in the rank form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    over hosts sorted ascending: every term is an exact integer until
    ONE double division — engine-exact, unlike a float Lorenz
    integration. Host counts are a tiny aggregate; the window runs on
    n_hosts rows."""
    from pyspark.sql import Window

    docs = synth.load_documents(spark, sf)
    key = F.when(F.col("doc_id") % 2 == 0, F.lit(0)).otherwise(
        F.col("doc_id") % 50
    )
    counts = docs.select(key.alias("host")).groupBy("host").agg(
        F.count("*").alias("x")
    )
    w = Window.orderBy("x", "host")
    ranked = counts.select("x", F.row_number().over(w).alias("i"))
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    gini = (
        F.lit(2.0) * F.col("six") / (F.col("n") * F.col("sx"))
        - (F.col("n") + 1) / F.col("n")
    )
    return agg.select("n", "sx", gini.alias("gini"))


def _host_gini_oracle_sql() -> str:
    return (
        "WITH counts AS (SELECT (CASE WHEN doc_id % 2 = 0 THEN 0 "
        "ELSE doc_id % 50 END) AS host, count(*) AS x FROM documents "
        "GROUP BY host), "
        "ranked AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, host) AS i "
        "FROM counts), "
        "agg AS (SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six "
        "FROM ranked) "
        "SELECT n, sx, 2.0 * six / (n * sx) - "
        "CAST(n + 1 AS DOUBLE) / n AS gini FROM agg"
    )


def q_sql_analytics(spark: SparkSession, sf: str) -> DataFrame:
    """The pure-SQL user surface: a TPC-H-Q3-shaped revenue query
    written as `spark.sql` text over registered temp views — same
    Catalyst plan machinery as the DataFrame API (broadcast dim, partial
    aggs), proving a SQL-only user of this engine gets the full planner.
    The oracle is the IDENTICAL statement (ANSI subset) in DuckDB."""
    sql = (
        "SELECT o.o_orderpriority, "
        "CAST(count(*) AS BIGINT) AS n_lines, "
        "CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) "
        "AS BIGINT)) AS BIGINT) AS revenue_cents "
        "FROM lineitem_v l JOIN orders_v o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer_v c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_mktsegment = 'BUILDING' AND l.l_shipdate > o.o_orderdate "
        "GROUP BY o.o_orderpriority"
    )
    for t in ("lineitem", "orders", "customer"):
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(
            f"{t}_v"
        )
    return spark.sql(sql)


def q_pii_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Column-level PII governance scan: per (table, column) totals of
    email/phone/IPv4 hits across documents.text and events.props, with
    planted PII (every 17th doc gets an email+IP suffix) so nonzero
    rows prove detection. The per-column counters fuse into each
    table's scan (pure regexp_count projections); output is
    tables×columns rows."""
    from webx.pii import pii_counts

    docs = synth.load_documents(spark, sf).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat("text", F.lit(" contact bob@example.com at 10.0.0.1")),
        ).otherwise(F.col("text")),
    )
    ev = spark.read.parquet(f"{sf}/events.parquet")

    def audit(df, table, col):
        return df.select(*pii_counts(col)).agg(
            F.lit(table).alias("table_name"),
            F.lit(col).alias("column_name"),
            F.sum("n_email").cast("long").alias("n_email"),
            F.sum("n_phone").cast("long").alias("n_phone"),
            F.sum("n_ipv4").cast("long").alias("n_ipv4"),
        )
    return audit(docs, "documents", "text").unionByName(
        audit(ev, "events", "props")
    )


def _sql_analytics_oracle_sql() -> str:
    return (
        "SELECT o.o_orderpriority, "
        "CAST(count(*) AS BIGINT) AS n_lines, "
        "CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) "
        "AS BIGINT)) AS BIGINT) AS revenue_cents "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_mktsegment = 'BUILDING' AND l.l_shipdate > o.o_orderdate "
        "GROUP BY o.o_orderpriority"
    )


def _pii_audit_oracle_sql() -> str:
    from webx.pii import PII_PATTERNS

    pats = {k: p for k, p, _ in PII_PATTERNS}
    spiked = (
        "(text || CASE WHEN doc_id % 17 = 0 THEN "
        "' contact bob@example.com at 10.0.0.1' ELSE '' END)"
    )

    def cnt(src, kind):
        return (
            f"CAST(sum(len(regexp_extract_all({src}, '{pats[kind]}'))) "
            f"AS BIGINT)"
        )

    return (
        f"SELECT 'documents' AS table_name, 'text' AS column_name, "
        f"{cnt(spiked, 'email')} AS n_email, {cnt(spiked, 'phone')} AS n_phone, "
        f"{cnt(spiked, 'ipv4')} AS n_ipv4 FROM documents "
        "UNION ALL "
        f"SELECT 'events', 'props', {cnt('props', 'email')}, "
        f"{cnt('props', 'phone')}, {cnt('props', 'ipv4')} FROM events"
    )


def q_simpson_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus language diversity WITHOUT logarithms: Simpson's index
    D = Σ nᵢ(nᵢ−1)/(N(N−1)) and its effective-language-count inverse —
    Shannon entropy needs ln() whose last-ulp differs between libm
    implementations (not oracle-able); Simpson is integer mass with
    ONE division, engine-exact. One tiny language aggregate."""
    docs = synth.load_documents(spark, sf)
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    agg = counts.agg(
        F.sum("n").alias("N"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("pairs"),
        F.count("*").alias("n_langs"),
    )
    d = F.col("pairs").cast("double") / (F.col("N") * (F.col("N") - 1))
    return agg.select(
        "n_langs",
        "N",
        d.alias("simpson"),
        (F.lit(1.0) / d).alias("effective_langs"),
    )


def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: counts
    and probabilities of event_type → next event_type per user stream
    (lead window + one count agg; probability = integer count over
    integer row-total, one division). The behavioral-model input; at
    10^12 events the (from, to) matrix is |types|² rows no matter the
    corpus."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    w2 = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w2)).alias("p"),
    )


def q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (lang × length decile):
    equivalence classes smaller than k=5 re-identify their members —
    report every class with its size and the violation flag. The
    governance pre-check before any per-document release; one hash agg
    on the quasi-identifier tuple."""
    docs = synth.load_documents(spark, sf)
    qid = docs.select(
        "lang", (F.col("n_chars") / 100).cast("int").alias("len_bucket")
    )
    classes = qid.groupBy("lang", "len_bucket").agg(F.count("*").alias("n"))
    return classes.select(
        "lang",
        "len_bucket",
        "n",
        (F.col("n") < 5).cast("int").alias("k_violation"),
    )


def _simpson_oracle_sql() -> str:
    return (
        "WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), "
        "a AS (SELECT sum(n) AS N, sum(n * (n - 1)) AS pairs, "
        "count(*) AS n_langs FROM c) "
        "SELECT n_langs, N, "
        "CAST(pairs AS DOUBLE) / (N * (N - 1)) AS simpson, "
        "1.0 / (CAST(pairs AS DOUBLE) / (N * (N - 1))) AS effective_langs "
        "FROM a"
    )


def _event_transitions_oracle_sql() -> str:
    return (
        "WITH p AS (SELECT event_type AS from_type, "
        "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS to_type "
        "FROM events), "
        "c AS (SELECT from_type, to_type, count(*) AS n FROM p "
        "WHERE to_type IS NOT NULL GROUP BY from_type, to_type) "
        "SELECT from_type, to_type, n, "
        "CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p "
        "FROM c"
    )


def _k_anonymity_oracle_sql() -> str:
    return (
        "SELECT lang, CAST(n_chars // 100 AS INT) AS len_bucket, "
        "count(*) AS n, CAST(count(*) < 5 AS INT) AS k_violation "
        "FROM documents GROUP BY lang, len_bucket"
    )


def q_crawl_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS crawl depth (webx/graph.py bfs_depth) over a
    planted de-Bruijn-style doc graph: i → 2i mod N and i → 2i+1 mod N
    (frontier doubles per level — the realistic BFS stress: every level
    is a join whose output ~2× the frontier until saturation), seeds =
    every 97th doc. depth is an exact integer (first-visit level =
    shortest hop count) so the iterative loop carries a FULL value
    oracle: a recursive-CTE min-depth replay, the pagerank_hosts_int /
    q_kmeans discipline applied to traversal."""
    from webx.graph import bfs_depth

    docs = synth.load_documents(spark, sf).select("doc_id")
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 2) % n).alias("dst")
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("src"), ((F.col("doc_id") * 2 + 1) % n).alias("dst")
        )
    )
    seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("node")
    )
    return bfs_depth(_par(edges, spark), seeds, max_depth=12)


def _crawl_depth_oracle_sql() -> str:
    return (
        "WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents), "
        "e AS (SELECT doc_id AS src, (doc_id * 2) % (SELECT n FROM nn) AS dst "
        "FROM documents UNION ALL "
        "SELECT doc_id, (doc_id * 2 + 1) % (SELECT n FROM nn) FROM documents), "
        "r(node, depth) AS ("
        "SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0 "
        "UNION "
        "SELECT e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node "
        "WHERE r.depth < 12) "
        "SELECT CAST(node AS BIGINT) AS node, CAST(min(depth) AS INT) AS depth "
        "FROM r GROUP BY node"
    )


BM25_QUERY = ("spark", "merge", "window")


def q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-10 retrieval (webx/textstats.py bm25_topk) for the
    fixed 3-term query — corpus search / seed-expansion mining. Gated
    columns are the exact integers (rank, doc_id, n_hit, tf_sum, dl);
    the score is float but its per-term addends fold in FIXED query
    order on both engines (see bm25_topk), so rank ties are stable;
    pytest re-derives the score itself."""
    from webx.textstats import bm25_topk

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return bm25_topk(docs, list(BM25_QUERY), k=10).select(
        "rank", "doc_id", "n_hit", "tf_sum", "dl"
    )


def _bm25_oracle_sql() -> str:
    terms_list = ", ".join(f"'{t}'" for t in BM25_QUERY)
    k1, b = 1.2, 0.75
    score_terms = []
    for i, t in enumerate(BM25_QUERY):
        score_terms.append(f"COALESCE(s{i}.s, 0.0)")
    fixed_sum = "0.0"
    for st in score_terms:
        fixed_sum = f"({fixed_sum} + {st})"
    per_term_join = " ".join(
        f"LEFT JOIN scored s{i} ON s{i}.doc_id = d.doc_id AND s{i}.term = '{t}'"
        for i, t in enumerate(BM25_QUERY)
    )
    return (
        "WITH toks AS (SELECT doc_id, lower(t.w) AS term FROM ("
        "SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), "
        f"{WS_SPLIT_SQL})) AS w FROM documents) t "
        f"WHERE lower(t.w) IN ({terms_list})), "
        "dl AS (SELECT doc_id, len(regexp_split_to_array(trim(coalesce(text, '')), "
        f"{WS_SPLIT_SQL})) AS dl FROM documents), "
        "nn AS (SELECT count(*) AS n, (SELECT avg(dl) FROM dl) AS avgdl "
        "FROM documents), "
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term), "
        "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term), "
        "scored AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl, "
        "ln(1.0 + (CAST((SELECT n FROM nn) AS DOUBLE) - dft.df + 0.5) / (dft.df + 0.5)) "
        f"* (tf.tf * ({k1} + 1.0)) / (tf.tf + {k1} * ((1.0 - {b}) + {b} * dl.dl / "
        "CAST((SELECT avgdl FROM nn) AS DOUBLE))) AS s "
        "FROM tf JOIN dft USING (term) JOIN dl ON dl.doc_id = tf.doc_id), "
        "per_doc AS (SELECT d.doc_id, "
        "CAST(count(*) AS INT) AS n_hit, CAST(sum(d.tf) AS BIGINT) AS tf_sum, "
        "CAST(max(d.dl) AS BIGINT) AS dl FROM scored d GROUP BY d.doc_id), "
        f"with_score AS (SELECT d.*, {fixed_sum} AS score FROM per_doc d "
        f"{per_term_join}), "
        "ranked AS (SELECT *, row_number() OVER "
        "(ORDER BY score DESC, doc_id ASC) AS rank FROM with_score) "
        "SELECT CAST(rank AS INT) AS rank, doc_id, n_hit, tf_sum, dl "
        "FROM ranked WHERE rank <= 10"
    )


def q_hll_registers(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog register table per event_type (webx/sketch.py
    hll_registers, p=6): the mergeable sketch form — elementwise max
    across shards/days IS the union — with every column an exact
    integer derived from the shared XXH64, so the "engine-specific
    sketch" excuse dies here too: the oracle recomputes register and
    rho from the same hash bits. The float estimate stays in pytest
    (hll_estimate)."""
    from webx.sketch import hll_registers

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return hll_registers(ev, "user_id", ("event_type",), p=6)


def _hll_oracle_sql() -> str:
    # register = low 6 hash bits; rho = 1 + trailing zeros of
    # (h >>> 6) | 2^57 — lowbit isolated via x & -x on HUGEINT,
    # log2 of an exact power of two rounds cleanly in both engines.
    return _oracles.XXH64_MACROS + (
        "WITH h AS (SELECT event_type, "
        "xhash_long(xunsigned(user_id), 42::HUGEINT) AS hu FROM events), "
        "rr AS (SELECT event_type, "
        "CAST(hu % 64 AS INT) AS register, "
        "((hu // 64) | 144115188075855872::HUGEINT) AS rest FROM h), "
        "rh AS (SELECT event_type, register, "
        "CAST(round(log2(CAST((rest & (-rest)) AS DOUBLE))) AS INT) + 1 AS rho "
        "FROM rr) "
        "SELECT event_type, register, CAST(max(rho) AS INT) AS rho "
        "FROM rh GROUP BY event_type, register"
    )


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (webx/sampling.py weighted_sample_topk): top-50 docs by ln(u)/w
    with u hash-derived (reproducible across cluster sizes/engines,
    unlike partition-seeded df.sample) and w = 1 + doc_id % 10. The
    gate covers (rank, key, weight) — rank order is float-keyed but u
    is recovered with the single-rounding decimal discipline and the
    key is one ln + one divide from it."""
    from webx.sampling import weighted_sample_topk

    docs = _par(synth.load_documents(spark, sf).select("doc_id"), spark)
    weighted = docs.select(
        "doc_id", (F.lit(1) + F.col("doc_id") % 10).alias("w")
    )
    return weighted_sample_topk(weighted, "doc_id", "w", k=50)


def _weighted_sample_oracle_sql() -> str:
    return _oracles.XXH64_MACROS + (
        "WITH h AS (SELECT doc_id, 1 + doc_id % 10 AS w, "
        "xhash_long(xunsigned(doc_id), 42::HUGEINT) AS hu FROM documents), "
        "k AS (SELECT doc_id, w, "
        "ln((CAST(hu AS DOUBLE) + 1.0) / 18446744073709551616.0) / "
        "CAST(w AS DOUBLE) AS skey FROM h), "
        "r AS (SELECT doc_id, w, row_number() OVER "
        "(ORDER BY skey DESC, doc_id ASC) AS rank FROM k) "
        "SELECT CAST(rank AS INT) AS rank, doc_id AS key, "
        "CAST(w AS BIGINT) AS weight FROM r WHERE rank <= 50"
    )


def q_group_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language A-ES weighted sampling (webx/sampling.py
    weighted_sample_per_group): top-5 docs per lang by ln(u)/w — the
    stratified audit sample a global top-k would starve small langs
    out of. Plan shape distinct from q_weighted_sample: a partitioned
    rank-filtered window (WindowGroupLimit) instead of TakeOrdered."""
    from webx.sampling import weighted_sample_per_group

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "lang"), spark)
    weighted = docs.select(
        "lang", "doc_id", (F.lit(1) + F.col("doc_id") % 10).alias("w")
    )
    return weighted_sample_per_group(weighted, "lang", "doc_id", "w", k=5)


def _group_sample_oracle_sql() -> str:
    return _oracles.XXH64_MACROS + (
        "WITH h AS (SELECT lang, doc_id, 1 + doc_id % 10 AS w, "
        "xhash_long(xunsigned(doc_id), 42::HUGEINT) AS hu FROM documents), "
        "k AS (SELECT lang, doc_id, w, "
        "ln((CAST(hu AS DOUBLE) + 1.0) / 18446744073709551616.0) / "
        "CAST(w AS DOUBLE) AS skey FROM h), "
        "r AS (SELECT lang, doc_id, w, row_number() OVER "
        "(PARTITION BY lang ORDER BY skey DESC, doc_id ASC) AS rank FROM k) "
        "SELECT lang AS grp, CAST(rank AS INT) AS rank, doc_id AS key, "
        "CAST(w AS BIGINT) AS weight FROM r WHERE rank <= 5"
    )


def q_corpus_shard(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic corpus shuffle + sharding (webx/sampling.py
    corpus_shard): the training-export final step — shard = low 4 hash
    bits, pos = unsigned-hash rank within shard. Reproducible on any
    engine/cluster size (oracle replays every (shard, pos) exactly);
    one exchange + per-shard sort, the writer's
    repartition().sortWithinPartitions shape."""
    from webx.sampling import corpus_shard

    docs = _par(synth.load_documents(spark, sf).select("doc_id"), spark)
    return corpus_shard(docs, "doc_id", n_shards=16)


def _corpus_shard_oracle_sql() -> str:
    return _oracles.XXH64_MACROS + (
        "WITH h AS (SELECT doc_id, "
        "xhash_long(xunsigned(doc_id), 42::HUGEINT) AS hu FROM documents) "
        "SELECT CAST(hu % 16 AS INT) AS shard, "
        "CAST(row_number() OVER (PARTITION BY hu % 16 "
        "ORDER BY hu ASC, doc_id ASC) AS INT) AS pos, "
        "doc_id AS key FROM h"
    )


def q_kmv_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set-operation estimates between two snapshot samples
    (webx/sketch.py kmv_set_ops): A = docs with id ≢ 0 (mod 3), B =
    id ≢ 0 (mod 2) — true Jaccard 0.4 — estimated from one size-64
    union sketch without ever joining the corpora. Deterministic hash
    ⇒ the floats replay exactly in the oracle (kmv_distinct
    discipline)."""
    from webx.sketch import kmv_set_ops

    docs = _par(synth.load_documents(spark, sf).select("doc_id"), spark)
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 2 != 0)
    return kmv_set_ops(a, b, "doc_id", k=64)


def _kmv_set_ops_oracle_sql() -> str:
    return _oracles.XXH64_MACROS + (
        "WITH ha AS (SELECT DISTINCT xhash_long(xunsigned(doc_id), 42::HUGEINT) "
        "AS hu FROM documents WHERE doc_id % 3 <> 0), "
        "hb AS (SELECT DISTINCT xhash_long(xunsigned(doc_id), 42::HUGEINT) "
        "AS hu FROM documents WHERE doc_id % 2 <> 0), "
        "sk AS (SELECT hu FROM (SELECT hu FROM ha UNION SELECT hu FROM hb) "
        "ORDER BY hu ASC LIMIT 64), "
        "st AS (SELECT count(*) AS n_seen, max(hu) AS maxh FROM sk), "
        "nb AS (SELECT count(*) AS n_both FROM sk "
        "WHERE hu IN (SELECT hu FROM ha) AND hu IN (SELECT hu FROM hb)) "
        "SELECT CAST(n_seen AS BIGINT) AS n_seen, "
        "CAST(n_both AS BIGINT) AS n_both, "
        "CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE) "
        "ELSE 63.0 / (CAST(maxh AS DOUBLE) / 18446744073709551616.0) END "
        "AS union_est, "
        "CAST(n_both AS DOUBLE) / CAST(n_seen AS DOUBLE) AS jaccard, "
        "(CAST(n_both AS DOUBLE) / CAST(n_seen AS DOUBLE)) * "
        "(CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE) "
        "ELSE 63.0 / (CAST(maxh AS DOUBLE) / 18446744073709551616.0) END) "
        "AS intersect_est FROM st, nb"
    )


def q_hll_union(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-of-sketches rollup (webx/sketch.py hll_merge): per-DAY
    HLL register tables folded by elementwise max into the all-time
    distinct-user sketch. The gate IS the mergeability theorem — Spark
    never computes a global sketch (it builds daily sketches and folds
    them); the oracle computes the global registers from the raw rows
    directly. Bit-equality proves fold(daily) == global, the property
    that lets a lakehouse keep pre-aggregated daily sketch tables."""
    from webx.sketch import hll_merge, hll_registers

    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    daily = hll_registers(ev, "user_id", ("day",), p=6)
    return hll_merge(daily)


def _hll_union_oracle_sql() -> str:
    return _oracles.XXH64_MACROS + (
        "WITH h AS (SELECT xhash_long(xunsigned(user_id), 42::HUGEINT) AS hu "
        "FROM events), "
        "rr AS (SELECT CAST(hu % 64 AS INT) AS register, "
        "((hu // 64) | 144115188075855872::HUGEINT) AS rest FROM h), "
        "rh AS (SELECT register, "
        "CAST(round(log2(CAST((rest & (-rest)) AS DOUBLE))) AS INT) + 1 AS rho "
        "FROM rr) "
        "SELECT register, CAST(max(rho) AS INT) AS rho FROM rh GROUP BY register"
    )


UNIMAX_BUDGET, UNIMAX_EPOCHS = 50_000, 1


def q_unimax(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax language-budget allocation (webx/sampling.py
    unimax_allocation; Chung et al. 2023): water-fill a 50k-char budget
    across languages under a 1-epoch cap — the multilingual
    pretraining mixer that replaces temperature sampling's single
    knob. All-integer closed form (running-AND capped prefix, integer
    div + largest-remainder top-up) ⇒ full value oracle; zero corpus
    shuffles (one count agg, then windows over the language frame)."""
    from webx.sampling import unimax_allocation

    counts = (
        synth.load_documents(spark, sf)
        .groupBy("lang")
        .agg(F.sum("n_chars").alias("size"))
    )
    return unimax_allocation(counts, UNIMAX_BUDGET, max_epochs=UNIMAX_EPOCHS)


def _unimax_oracle_sql() -> str:
    b, e = UNIMAX_BUDGET, UNIMAX_EPOCHS
    return (
        "WITH c AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS size "
        "FROM documents GROUP BY lang), "
        f"bb AS (SELECT lang, size, CAST({e} * size AS BIGINT) AS cap FROM c), "
        "r AS (SELECT *, row_number() OVER (ORDER BY cap ASC, lang ASC) AS i, "
        "sum(cap) OVER (ORDER BY cap ASC, lang ASC) - cap AS precum, "
        "count(*) OVER () AS n FROM bb), "
        f"f AS (SELECT *, CASE WHEN cap * (n - i + 1) <= {b} - precum "
        "THEN 1 ELSE 0 END AS flag FROM r), "
        "g AS (SELECT *, min(flag) OVER (ORDER BY cap ASC, lang ASC) "
        "AS cappedi FROM f), "
        "h AS (SELECT *, coalesce(sum(CASE WHEN cappedi = 1 THEN cap END) "
        f"OVER (), 0) AS capsum, "
        "sum(CASE WHEN cappedi = 0 THEN 1 ELSE 0 END) OVER () AS m FROM g), "
        "t AS (SELECT *, row_number() OVER (PARTITION BY cappedi "
        "ORDER BY size DESC, lang ASC) AS tr, "
        f"{b} - capsum AS rem FROM h) "
        "SELECT lang, size, cap, cappedi = 1 AS capped, "
        "CAST(CASE WHEN cappedi = 1 THEN cap "
        "ELSE (rem // greatest(m, 1)) + "
        "(CASE WHEN tr <= rem - (rem // greatest(m, 1)) * m THEN 1 ELSE 0 END) "
        "END AS BIGINT) AS alloc FROM t"
    )


def q_bitext_margin(spark: SparkSession, sf: str) -> DataFrame:
    """Margin-based bitext mining (webx/similarity.py margin_bitext;
    Artetxe & Schwenk 2019) between the even- and odd-id halves of the
    embedding table: per-source best target with the k=4 ratio-margin
    hubness correction, mutual-best flagged. Complements q_bitext_pairs
    (hreflang reciprocity — the URL signal) with the embedding signal.
    Floats are fixed-fold throughout ⇒ full value oracle."""
    from webx.similarity import margin_bitext

    emb = _emb(spark, sf).select("vec_id", "embedding")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    return margin_bitext(a, b, k=4, threshold=1.0)


def _bitext_margin_oracle_sql() -> str:
    from webx import oracles as _o

    cos = _o._cos("a.ae", "b.be")
    k = 4
    pslots = " + ".join(
        f"max(CASE WHEN {{r}} = {i} THEN cos END)" for i in range(1, k + 1)
    )
    return (
        "WITH a AS (SELECT vec_id AS src_id, embedding AS ae FROM embeddings "
        "WHERE vec_id % 2 = 0), "
        "b AS (SELECT vec_id AS tgt_id, embedding AS be FROM embeddings "
        "WHERE vec_id % 2 = 1), "
        f"s AS (SELECT src_id, tgt_id, {cos} AS cos FROM a, b), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY src_id "
        "ORDER BY cos DESC, tgt_id) AS rf, "
        "row_number() OVER (PARTITION BY tgt_id "
        "ORDER BY cos DESC, src_id) AS rb FROM s), "
        f"pa AS (SELECT src_id, ({pslots.format(r='rf')}) / {float(k)} AS pen_a "
        f"FROM r WHERE rf <= {k} GROUP BY src_id), "
        f"pb AS (SELECT tgt_id, ({pslots.format(r='rb')}) / {float(k)} AS pen_b "
        f"FROM r WHERE rb <= {k} GROUP BY tgt_id), "
        "best AS (SELECT src_id, tgt_id, cos, rb = 1 AS mutual FROM r "
        "WHERE rf = 1) "
        "SELECT best.src_id, best.tgt_id, mutual, "
        "cos / ((pen_a + pen_b) / 2.0) AS margin "
        "FROM best JOIN pa USING (src_id) JOIN pb USING (tgt_id) "
        "WHERE cos / ((pen_a + pen_b) / 2.0) >= 1.0"
    )


def q_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprint selection (webx/winnow.py; Schleimer et
    al. 2003, the MOSS algorithm) over every 10th document: the full
    selected set (doc_id, pos, h) — k=8 grams, w=4 windows, rightmost
    minimum in unsigned hash order — replayed gram-for-gram by the
    oracle via the XXH64 string CTE port."""
    from webx.winnow import winnow_fingerprints

    docs = _par(
        synth.load_documents(spark, sf)
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text"),
        spark,
    )
    return winnow_fingerprints(docs)


def _winnow_oracle_sql() -> str:
    from webx.oracles import xxh64_str_ctes

    k, w, pc = 8, 4, 256
    return _oracles.XXH64_MACROS + (
        "WITH src AS (SELECT doc_id, substr(regexp_replace(lower(text), "
        f"'[^a-z0-9]', '', 'g'), 1, {pc}) AS s "
        "FROM documents WHERE doc_id % 10 = 0), "
        f"ok AS (SELECT doc_id, s, length(s) - {k - 1} AS n_grams FROM src "
        f"WHERE length(s) >= {w + k - 1}), "
        "g AS (SELECT doc_id, n_grams, "
        "unnest(generate_series(1, n_grams)) AS pos, s FROM ok), "
        f"g2 AS (SELECT doc_id, n_grams, pos, substr(s, pos, {k}) AS gram FROM g), "
        + xxh64_str_ctes("g2", "doc_id, n_grams, pos", "gram", "gh")
        + ", mem AS (SELECT doc_id, pos, h, "
        f"unnest(generate_series(greatest(pos - {w - 1}, 1), "
        f"least(pos, n_grams - {w - 1}))) AS win FROM gh), "
        "r AS (SELECT doc_id, win, pos, h, row_number() OVER "
        "(PARTITION BY doc_id, win ORDER BY h ASC, pos DESC) AS rn FROM mem) "
        "SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, xsigned(h) AS h "
        "FROM r WHERE rn = 1"
    )


def q_winnow_matches(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS-style shared-passage pairs (webx/winnow.py winnow_matches)
    over the planted near-dup corpus: every planted copy (doc minus its
    last word) must surface against its original with a high shared-
    fingerprint count — the POSITIONAL overlap witness MinHash's global
    Jaccard cannot localize. Hash-equijoin on the 64-bit fingerprint;
    id_a < id_b; fingerprints in > 20 docs are dropped first (the
    mega-bucket cap: template passages in this corpus reach 175 docs
    and would dominate the pair expansion); n_shared >= 10 is the
    capped planted-pair floor at sf0.01, keeping the audit output
    passage-level, not vocabulary-level."""
    from webx.winnow import winnow_matches

    return winnow_matches(
        _docs_with_neardups(spark, sf), min_shared=10, max_hash_docs=20
    )


def _winnow_matches_oracle_sql() -> str:
    from webx.oracles import CORPUS_CTE, xxh64_str_ctes

    k, w, pc = 8, 4, 256
    return _oracles.XXH64_MACROS + (
        "WITH "
        + CORPUS_CTE
        + ", src AS (SELECT doc_id, substr(regexp_replace(lower(text), "
        f"'[^a-z0-9]', '', 'g'), 1, {pc}) AS s FROM corpus), "
        f"ok AS (SELECT doc_id, s, length(s) - {k - 1} AS n_grams FROM src "
        f"WHERE length(s) >= {w + k - 1}), "
        "g AS (SELECT doc_id, n_grams, "
        "unnest(generate_series(1, n_grams)) AS pos, s FROM ok), "
        f"g2 AS (SELECT doc_id, n_grams, pos, substr(s, pos, {k}) AS gram FROM g), "
        + xxh64_str_ctes("g2", "doc_id, n_grams, pos", "gram", "gh")
        + ", mem AS (SELECT doc_id, pos, h, "
        f"unnest(generate_series(greatest(pos - {w - 1}, 1), "
        f"least(pos, n_grams - {w - 1}))) AS win FROM gh), "
        "r AS (SELECT doc_id, win, pos, h, row_number() OVER "
        "(PARTITION BY doc_id, win ORDER BY h ASC, pos DESC) AS rn FROM mem), "
        "fp AS (SELECT DISTINCT doc_id, h FROM r WHERE rn = 1), "
        "pop AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 20), "
        "fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN pop USING (h)) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(count(*) AS BIGINT) AS n_shared "
        "FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 10"
    )


# the cp1252 rendering of UTF-8 " café — ’naïve’…" — every byte of the
# UTF-8 encoding is defined in cp1252, so the corruption round-trips
MOJI_ORIG = " café — ’naïve’…"
MOJI_SUFFIX = MOJI_ORIG.encode("utf-8").decode("cp1252")


def q_mojibake(spark: SparkSession, sf: str) -> DataFrame:
    """Double-encoding (mojibake) detection (webx/textstats.py
    mojibake_stats): per-doc count of UTF-8-read-as-cp1252 signatures —
    the single most common real-crawl text corruption (the ftfy use
    case). Docs with id%4==1 get a planted corrupted suffix (signature
    count 5); detection is one literal-alternation regexp count, pure
    codegen, replayed verbatim by the oracle. The charset-round-trip
    REPAIR is not SQL-expressible; it is pytest-anchored
    (tests/test_mojibake.py proves repair restores the original
    bytes)."""
    from webx.textstats import mojibake_stats

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 1, F.concat("text", F.lit(MOJI_SUFFIX))
        ).otherwise(F.col("text")),
    )
    return mojibake_stats(docs)


def _mojibake_oracle_sql() -> str:
    from webx.textstats import MOJIBAKE_RE

    sfx = MOJI_SUFFIX.replace("'", "''")
    pat = MOJIBAKE_RE.replace("'", "''")
    return (
        "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 4 = 1 "
        f"THEN text || '{sfx}' ELSE text END AS text FROM documents), "
        f"n AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '{pat}')) "
        "AS INT) AS n_moji FROM d) "
        "SELECT doc_id, n_moji, n_moji > 0 AS moji FROM n"
    )


# ---------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_extract": q_extract,
        "q_extract_multispan": q_extract_multispan,
        "q_extract_entities": q_extract_entities,
        "q_extract_latin1": q_extract_latin1,
        "q_extract_filter_empty": q_extract_filter_empty,
        "q_extract_gnarly": q_extract_gnarly,
        "q_extract_overlay": q_extract_overlay,
        "q_extract_headline": q_extract_headline,
        "q_extract_pre": q_extract_pre,
        "q_split_comments": q_split_comments,
        "q_extract_tables": q_extract_tables,
        "q_extract_rawkept": q_extract_rawkept,
        "q_extract_nonprose": q_extract_nonprose,
        "q_extract_invisible": q_extract_invisible,
        "q_extract_nfc": q_extract_nfc,
        "q_extract_charset_edge": q_extract_charset_edge,
        "q_extract_warc": q_extract_warc,
        "q_extract_warc_damaged": q_extract_warc_damaged,
        "q_xrobots_gate": q_xrobots_gate,
        "q_politeness_audit": q_politeness_audit,
        "q_mime_route": q_mime_route,
        "q_idn_homograph": q_idn_homograph,
        "q_char_entropy": q_char_entropy,
        "q_extract_warc_charset": q_extract_warc_charset,
        "q_extract_warc_revisit": q_extract_warc_revisit,
        "q_extract_wet": q_extract_wet,
        "q_wat_links": q_wat_links,
        "q_extract_pdf": q_extract_pdf,
        "q_extract_pdf_encrypted": q_extract_pdf_encrypted,
        "q_extract_pdf_cid": q_extract_pdf_cid,
        "q_convert_bulk": q_convert_bulk,
        "q_keyed_store": q_keyed_store,
        "q_convert_det_labels": q_convert_det_labels,
        "q_convert_jsonl": q_convert_jsonl,
        "q_publish_dates": q_publish_dates,
        "q_pagerank_hosts_exact": q_pagerank_hosts_exact,
        "q_trustrank": q_trustrank,
        "q_redirect_chains": q_redirect_chains,
        "q_spans_stats": q_spans_stats,
        "q_golden_spans": q_golden_spans,
        "q_rec_metric": q_rec_metric,
        "q_lang_rollup": q_lang_rollup,
        "q_topk_spans": q_topk_spans,
        "q_token_count": q_token_count,
        "q_token_count_bpe": q_token_count_bpe,
        "q_quality": q_quality,
        "q_quality_filter": q_quality_filter,
        "q_repetition": q_repetition,
        "q_langid": q_langid,
        "q_langid_model": q_langid_model,
        "q_langid_paragraphs": q_langid_paragraphs,
        "q_fingerprint": q_fingerprint,
        "q_dedup_exact": q_dedup_exact,
        "q_dedup_minhash": q_dedup_minhash,
        "q_dedup_clusters": q_dedup_clusters,
        "q_dedup_simhash": q_dedup_simhash,
        "q_ann_cosine": q_ann_cosine,
        "q_ann_lsh": q_ann_lsh,
        "q_ann_ivf": q_ann_ivf,
        "q_pq_codes": q_pq_codes,
        "q_pq_adc": q_pq_adc,
        "q_events_window": q_events_window,
        "q_media_meta": q_media_meta,
        "q_det_metric": q_det_metric,
        "q_rec_quality": q_rec_quality,
        "q_dedup_jaccard": q_dedup_jaccard,
        "q_fuzzy_join": q_fuzzy_join,
        "q_jw_join": q_jw_join,
        "q_jaccard_join": q_jaccard_join,
        "q_rake": q_rake,
        "q_texttiling": q_texttiling,
        "q_capture_recapture": q_capture_recapture,
        "q_l_diversity": q_l_diversity,
        "q_rendezvous": q_rendezvous,
        "q_cdc_chunks": q_cdc_chunks,
        "q_cdc_dedup": q_cdc_dedup,
        "q_neardup_embedding": q_neardup_embedding,
        "q_media_features": q_media_features,
        "q_image_headers": q_image_headers,
        "q_audio_headers": q_audio_headers,
        "q_video_headers": q_video_headers,
        "q_extract_mixed": q_extract_mixed,
        "q_extract_warc_mixed": q_extract_warc_mixed,
        "q_orders_rollup": q_orders_rollup,
        "q_join3": q_join3,
        "q_join_anti": q_join_anti,
        "q_join_semi": q_join_semi,
        "q_topk_parts": q_topk_parts,
        "q_lang_host_rollup": q_lang_host_rollup,
        "q_lang_host_cube": q_lang_host_cube,
        "q_length_percentiles": q_length_percentiles,
        "q_length_percentiles_approx": q_length_percentiles_approx,
        "q_tfidf_topk": q_tfidf_topk,
        "q_collocations": q_collocations,
        "q_inverted_index": q_inverted_index,
        "q_embedding_outliers": q_embedding_outliers,
        "q_token_f1": q_token_f1,
        "q_compression_ratio": q_compression_ratio,
        "q_semdedup": q_semdedup,
        "q_punct_norm": q_punct_norm,
        "q_char_classes": q_char_classes,
        "q_host_quality": q_host_quality,
        "q_chunk_windows": q_chunk_windows,
        "q_markdown": q_markdown,
        "q_markdown_multi": q_markdown_multi,
        "q_temperature_sample": q_temperature_sample,
        "q_bloom_seen": q_bloom_seen,
        "q_bpe_pairs": q_bpe_pairs,
        "q_bpe_learn": q_bpe_learn,
        "q_bpe_encode": q_bpe_encode,
        "q_wordpiece": q_wordpiece,
        "q_decontaminate": q_decontaminate,
        "q_passage_decontaminate": q_passage_decontaminate,
        "q_host_cap": q_host_cap,
        "q_pack_sequences": q_pack_sequences,
        "q_paragraph_dedup": q_paragraph_dedup,
        "q_stratified_sample": q_stratified_sample,
        "q_split_assign": q_split_assign,
        "q_split_leakage": q_split_leakage,
        "q_kmv_distinct": q_kmv_distinct,
        "q_sentinel_truncate": q_sentinel_truncate,
        "q_token_ids": q_token_ids,
        "q_token_ids_attn": q_token_ids_attn,
        "q_host_stats": q_host_stats,
        "q_sessions": q_sessions,
        "q_user_rollup": q_user_rollup,
        "q_url_normalize": q_url_normalize,
        "q_registrable_domain": q_registrable_domain,
        "q_extract_links": q_extract_links,
        "q_base_href": q_base_href,
        "q_nofollow_links": q_nofollow_links,
        "q_canonical_refresh": q_canonical_refresh,
        "q_hreflang": q_hreflang,
        "q_pagination": q_pagination,
        "q_url_templates": q_url_templates,
        "q_template_cluster": q_template_cluster,
        "q_template_boilerplate": q_template_boilerplate,
        "q_feed_links": q_feed_links,
        "q_bitext_pairs": q_bitext_pairs,
        "q_image_captions": q_image_captions,
        "q_image_context": q_image_context,
        "q_interleaved": q_interleaved,
        "q_srcset": q_srcset,
        "q_code_blocks": q_code_blocks,
        "q_math_spans": q_math_spans,
        "q_media_sources": q_media_sources,
        "q_link_graph": q_link_graph,
        "q_pagerank_hosts": q_pagerank_hosts,
        "q_url_dedup": q_url_dedup,
        "q_importance_weights": q_importance_weights,
        "q_lm_perplexity": q_lm_perplexity,
        "q_c4_clean": q_c4_clean,
        "q_dup_spans": q_dup_spans,
        "q_suffix_dups": q_suffix_dups,
        "q_dup_profile": q_dup_profile,
        "q_anchor_index": q_anchor_index,
        "q_dup_span_removal": q_dup_span_removal,
        "q_media_frames": q_media_frames,
        "q_pii_redact": q_pii_redact,
        "q_latest_capture": q_latest_capture,
        "q_snapshot_diff": q_snapshot_diff,
        "q_blocklist": q_blocklist,
        "q_extract_incremental": q_extract_incremental,
        "q_robots_meta": q_robots_meta,
        "q_page_meta": q_page_meta,
        "q_script_profile": q_script_profile,
        "q_structured_meta": q_structured_meta,
        "q_headings": q_headings,
        "q_html_tables": q_html_tables,
        "q_dom_depth": q_dom_depth,
        "q_feed_entries": q_feed_entries,
        "q_sitemap": q_sitemap,
        "q_sitemap_index": q_sitemap_index,
        "q_host_boilerplate": q_host_boilerplate,
        "q_nfc_normalize": q_nfc_normalize,
        "q_robots_rules": q_robots_rules,
        "q_robots_gate": q_robots_gate,
        "q_cdx_latest": q_cdx_latest,
        "q_sentences": q_sentences,
        "q_readability": q_readability,
        "q_soft404": q_soft404,
        "q_quality_model": q_quality_model,
        "q_auc": q_auc,
        "q_frontier_schedule": q_frontier_schedule,
        "q_asof_join": q_asof_join,
        "q_range_join": q_range_join,
        "q_cms_heavy": q_cms_heavy,
        "q_quality_terciles": q_quality_terciles,
        "q_dedup_against": q_dedup_against,
        "q_sliding_window": q_sliding_window,
        "q_scd2": q_scd2,
        "q_funnel": q_funnel,
        "q_rolling_avg": q_rolling_avg,
        "q_cms_join_size": q_cms_join_size,
        "q_salted_join": q_salted_join,
        "q_zorder": q_zorder,
        "q_hilbert": q_hilbert,
        "q_zonemap_prune": q_zonemap_prune,
        "q_crawl_depth": q_crawl_depth,
        "q_bm25": q_bm25,
        "q_hll_registers": q_hll_registers,
        "q_weighted_sample": q_weighted_sample,
        "q_group_sample": q_group_sample,
        "q_corpus_shard": q_corpus_shard,
        "q_kmv_set_ops": q_kmv_set_ops,
        "q_hll_union": q_hll_union,
        "q_unimax": q_unimax,
        "q_bitext_margin": q_bitext_margin,
        "q_winnow": q_winnow,
        "q_winnow_matches": q_winnow_matches,
        "q_mojibake": q_mojibake,
        "q_kmeans": q_kmeans,
        "q_pivot": q_pivot,
        "q_unpivot": q_unpivot,
        "q_value_histogram": q_value_histogram,
        "q_length_outliers": q_length_outliers,
        "q_triangles": q_triangles,
        "q_hits": q_hits,
        "q_containment": q_containment,
        "q_topk_partial": q_topk_partial,
        "q_cogroup_stats": q_cogroup_stats,
        "q_skew_report": q_skew_report,
        "q_bloom_join": q_bloom_join,
        "q_blocklist_gate": q_blocklist_gate,
        "q_changed_captures": q_changed_captures,
        "q_recrawl_schedule": q_recrawl_schedule,
        "q_budget_allocation": q_budget_allocation,
        "q_keep_best": q_keep_best,
        "q_curate_pipeline": q_curate_pipeline,
        "q_json_extract": q_json_extract,
        "q_url_params": q_url_params,
        "q_delete_propagation": q_delete_propagation,
        "q_strip_accents": q_strip_accents,
        "q_vocab_novelty": q_vocab_novelty,
        "q_multi_match": q_multi_match,
        "q_multi_match_aho": q_multi_match_aho,
        "q_correlation": q_correlation,
        "q_event_sequence": q_event_sequence,
        "q_percentile_rank": q_percentile_rank,
        "q_embedding_decontaminate": q_embedding_decontaminate,
        "q_confusion_matrix": q_confusion_matrix,
        "q_forward_fill": q_forward_fill,
        "q_day_over_day": q_day_over_day,
        "q_retention_cohorts": q_retention_cohorts,
        "q_host_gini": q_host_gini,
        "q_sql_analytics": q_sql_analytics,
        "q_pii_audit": q_pii_audit,
        "q_simpson_diversity": q_simpson_diversity,
        "q_event_transitions": q_event_transitions,
        "q_k_anonymity": q_k_anonymity,
    }


def _langid_oracle_sql() -> str:
    """DuckDB mirror of webx.textstats.lang_id, generated from the same
    LANG_STOPWORDS table so the two can never drift."""
    from webx.textstats import LANG_STOPWORDS

    score_cols = []
    for lang, sw in LANG_STOPWORDS:
        lst = "[" + ",".join(f"'{w}'" for w in sw) + "]"
        score_cols.append(
            f"len(list_filter(toks, w -> list_contains({lst}, w))) AS s_{lang}"
        )
    best = "greatest(" + ",".join(f"s_{lang}" for lang, _ in LANG_STOPWORDS) + ")"
    cases = " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang, _ in LANG_STOPWORDS
    )
    return (
        "WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(trim(text), "
        f"{WS_SPLIT_SQL}), w -> lower(w)) AS toks FROM documents), "
        f"s AS (SELECT doc_id, {', '.join(score_cols)} FROM t) "
        f"SELECT doc_id, (CASE WHEN {best} < 1 THEN 'und' {cases} END) AS pred_lang FROM s"
    )


def _sampling_oracle_sql(kind: str) -> str:
    """DuckDB mirrors of webx.sampling via the XXH64 macro port —
    thresholds and cut points imported from webx.sampling itself (ONE
    source of truth: BUCKETS and split_cuts), fractions/weights from the
    module constants the queries use."""
    from webx.sampling import BUCKETS as B, split_cuts

    if kind == "stratified":
        cases = " ".join(
            f"WHEN '{k}' THEN {int(round(v * B))}"
            for k, v in STRATA_FRACTIONS.items()
        )
        return _oracles.XXH64_MACROS + (
            f"SELECT doc_id, lang FROM documents "
            f"WHERE {_oracles.hash_bucket_sql('doc_id', 42, B)} < "
            f"(CASE lang {cases} ELSE 0 END)"
        )
    cuts = split_cuts(SPLIT_WEIGHTS)
    chain_sql = " ".join(
        f"WHEN b < {c} THEN '{n}'" for n, c in zip(SPLIT_NAMES, cuts)
    )
    return _oracles.XXH64_MACROS + (
        f"SELECT doc_id, CASE {chain_sql} ELSE '{SPLIT_NAMES[-1]}' END AS split "
        f"FROM (SELECT doc_id, {_oracles.hash_bucket_sql('doc_id', 7, B)} AS b "
        "FROM documents)"
    )


def _punct_norm_oracle_sql() -> str:
    """Replay of webx.textstats.normalize_punct — the replace chain is
    generated from PUNCT_MAP itself (one source of truth)."""
    from webx.textstats import PUNCT_MAP

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    raw = f"(text || {q(PUNCT_SUFFIX)})"
    norm = raw
    for src, dst in PUNCT_MAP:
        norm = f"replace({norm}, {q(src)}, {q(dst)})"
    return (
        f"SELECT doc_id, {norm} AS text_norm, "
        f"CAST(({norm} <> {raw}) AS INT) AS punct_changed FROM documents"
    )


# GPT-2-style pretokenizer, DuckDB spelling (webx.textstats.BPE_SPLIT —
# same literal as the q_token_count_bpe oracle; '' escapes the quote)
BPE_PAT_SQL = "'''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\r\\n]'"


def _bpe_vocab_chain_sql(n_merges: int) -> str:
    """CTE chain replaying webx.bpe.learn_bpe: v0 = char+</w> vocab,
    then n unrolled iterations of (pair count -> argmax pair m{i} ->
    greedy left-to-right merge fold -> v{i}). Materialized so each stage
    computes once. Emits CTE text only (no WITH keyword)."""
    parts = [
        "w AS (SELECT unnest(regexp_extract_all(text, "
        f"{BPE_PAT_SQL})) AS word FROM documents), "
        "wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY word), "
        "v0 AS MATERIALIZED (SELECT word, cnt, "
        "list_append(list_transform(generate_series(1, length(word)), "
        "i -> substr(word, i, 1)), '</w>') AS syms FROM wc)"
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"p{i} AS (SELECT p[1] AS p1, p[2] AS p2, "
            "CAST(SUM(cnt) AS BIGINT) AS cnt FROM ("
            "SELECT cnt, unnest(CASE WHEN len(syms) >= 2 THEN "
            "list_transform(generate_series(1, len(syms) - 1), "
            "i -> [syms[i], syms[i+1]]) ELSE CAST([] AS VARCHAR[][]) END) AS p "
            f"FROM v{i-1}) GROUP BY 1, 2)"
        )
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT p1, p2, cnt FROM p{i} "
            "ORDER BY cnt DESC, p1, p2 LIMIT 1)"
        )
        parts.append(
            f"v{i} AS MATERIALIZED (SELECT word, v.cnt AS cnt, list_reduce("
            "list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])), "
            "(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.p1 AND x[1] = m.p2 "
            "THEN list_append(acc[1:len(acc)-1], m.p1 || m.p2) "
            "ELSE list_append(acc, x[1]) END) AS syms "
            f"FROM v{i-1} v, m{i} m)"
        )
    return ", ".join(parts)


def q_wordpiece(spark: SparkSession, sf: str) -> DataFrame:
    """WordPiece greedy longest-match-first tokenization
    (webx/wordpiece.py): distinct words tokenized once (Heaps' law —
    the walk never touches the corpus row-by-row), broadcast-joined
    back to positions. The oracle replays the greedy walk with a
    10-stage unrolled CTE chain over the same literal vocabulary —
    longest-match choices, ## continuations, and whole-word [UNK]
    collapse included."""
    from webx.wordpiece import wordpiece_encode

    docs = _par(synth.load_documents(spark, sf).select("doc_id", "text"), spark)
    return wordpiece_encode(docs)


def _wordpiece_oracle_sql(steps: int = 10) -> str:
    """Unrolled greedy longest-match: each stage consumes one piece
    (pieces are >=1 char, corpus words are <=8 chars, so 10 stages fix
    every word); bl = the longest L whose (##-prefixed when mid-word)
    substring is in the vocab literal; NULL bl collapses the word to
    ['[UNK]'] — BERT semantics, identical to wordpiece_word."""
    from webx.wordpiece import VOCAB

    vl = "[" + ",".join(f"'{p}'" for p in VOCAB) + "]"
    stages = []
    for i in range(1, steps + 1):
        stages.append(
            f"s{i} AS (SELECT word, "
            "CASE WHEN fin THEN start WHEN bl IS NULL THEN length(word) + 1 "
            "ELSE start + bl END AS start, "
            "CASE WHEN fin THEN pieces WHEN bl IS NULL THEN ['[UNK]'] "
            "ELSE list_append(pieces, CASE WHEN start = 1 "
            "THEN substr(word, start, CAST(bl AS INT)) "
            "ELSE '##' || substr(word, start, CAST(bl AS INT)) END) END AS pieces, "
            "CASE WHEN fin THEN unk WHEN bl IS NULL THEN true ELSE unk END AS unk "
            "FROM (SELECT word, start, pieces, unk, "
            "(unk OR start > length(word)) AS fin, "
            "CASE WHEN unk OR start > length(word) THEN NULL "
            "ELSE list_max(list_filter(generate_series(1, length(word) - start + 1), "
            f"L -> list_contains({vl}, CASE WHEN start = 1 "
            "THEN substr(word, start, CAST(L AS INT)) "
            "ELSE '##' || substr(word, start, CAST(L AS INT)) END))) END AS bl "
            f"FROM s{i - 1}))"
        )
    chain = ", ".join(stages)
    return (
        "WITH dw AS (SELECT doc_id, word, CAST(idx - 1 AS INT) AS word_idx "
        "FROM (SELECT doc_id, "
        f"unnest(regexp_split_to_array(trim(text), {WS_SPLIT_SQL})) AS word, "
        "unnest(generate_series(1, len(regexp_split_to_array(trim(text), "
        f"{WS_SPLIT_SQL})))) AS idx FROM documents) WHERE word <> ''), "
        "words AS (SELECT DISTINCT word FROM dw), "
        "s0 AS (SELECT word, 1 AS start, CAST([] AS VARCHAR[]) AS pieces, "
        f"false AS unk FROM words), {chain}, "
        f"outp AS (SELECT word, unnest(pieces) AS piece, "
        f"CAST(unnest(generate_series(1, len(pieces))) - 1 AS INT) AS piece_idx "
        f"FROM s{steps}) "
        "SELECT dw.doc_id, dw.word_idx, o.piece_idx, o.piece, "
        f"CAST(list_position({vl}, o.piece) - 1 AS INT) AS piece_id "
        "FROM dw JOIN outp o USING (word)"
    )


def _bpe_oracle_sql(kind: str, n_merges: int) -> str:
    chain = _bpe_vocab_chain_sql(n_merges if kind != "pairs" else 0)
    if kind == "pairs":
        return (
            f"WITH {chain} "
            "SELECT p[1] AS p1, p[2] AS p2, CAST(SUM(cnt) AS BIGINT) AS cnt "
            "FROM (SELECT cnt, unnest(CASE WHEN len(syms) >= 2 THEN "
            "list_transform(generate_series(1, len(syms) - 1), "
            "i -> [syms[i], syms[i+1]]) ELSE CAST([] AS VARCHAR[][]) END) AS p "
            "FROM v0) GROUP BY 1, 2"
        )
    if kind == "learn":
        unions = " UNION ALL ".join(
            f"SELECT CAST({i} AS INT) AS rank, p1, p2, cnt FROM m{i}"
            for i in range(1, n_merges + 1)
        )
        return f"WITH {chain} {unions}"
    # kind == "encode": pretokenize with positions, join the final vocab
    # (every corpus word is in it by construction), ordered reassembly
    v = f"v{n_merges}"
    return (
        f"WITH {chain}, "
        "dw AS (SELECT doc_id, unnest(regexp_extract_all(text, "
        f"{BPE_PAT_SQL})) AS word, "
        "unnest(generate_series(1, len(regexp_extract_all(text, "
        f"{BPE_PAT_SQL})))) AS pos FROM documents), "
        f"enc AS (SELECT d.doc_id, d.pos, v.syms FROM dw d JOIN {v} v USING (word)), "
        "agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS stream "
        "FROM enc GROUP BY doc_id) "
        "SELECT dd.doc_id, CAST(coalesce(len(a.stream), 0) AS INT) AS n_pieces, "
        "coalesce(array_to_string(a.stream, ' '), '') AS pieces "
        "FROM documents dd LEFT JOIN agg a ON dd.doc_id = a.doc_id"
    )


def _token_ids_oracle_sql(attn: bool, max_len: int = 64) -> str:
    """DuckDB mirror of webx.encode.ctc_encode / attn_encode over the
    same LANG_STOPWORDS-derived vocab (generated from one source so the
    two can never drift)."""
    vocab = _encode_vocab()
    vl = "[" + ",".join(f"'{w}'" for w in vocab) + "]"
    off = 2 if attn else 0
    blank = len(vocab)
    base = (
        f"WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(trim(text), "
        f"{WS_SPLIT_SQL}), w -> lower(w)) AS toks FROM documents), "
        f"i AS (SELECT doc_id, len(toks) AS n, "
        f"list_transform(list_filter(toks, t -> list_contains({vl}, t)), "
        f"t -> list_position({vl}, t) - 1 + {off}) AS ids FROM t), "
        f"v AS (SELECT doc_id, ids, "
        f"(n > 0 AND n <= {max_len} AND len(ids) > 0) AS valid FROM i) "
    )
    if attn:
        seq = (
            "list_concat(list_concat(list_concat([0], iv), [1]), "
            f"list_transform(generate_series(1, {max_len} - len(iv)), x -> 0))"
        )
        return base + (
            "SELECT doc_id, CAST(CASE WHEN valid THEN len(ids) ELSE 0 END AS INT) AS length, "
            f"array_to_string(CAST({seq} AS INT[]), ',') AS text_seq FROM "
            "(SELECT doc_id, ids, valid, "
            "CASE WHEN valid THEN ids ELSE [] END AS iv FROM v)"
        )
    seq = (
        "CASE WHEN valid THEN list_concat(ids, "
        f"list_transform(generate_series(1, {max_len} - len(ids)), x -> {blank})) "
        f"ELSE list_transform(generate_series(1, {max_len}), x -> {blank}) END"
    )
    return base + (
        "SELECT doc_id, CAST(CASE WHEN valid THEN len(ids) ELSE 0 END AS INT) AS length, "
        f"array_to_string(CAST({seq} AS INT[]), ',') AS text_seq FROM v"
    )


def _importance_oracle_sql(buckets: int = 10_000) -> str:
    """DuckDB mirror of webx.curate.importance_weights' integer core:
    uni+bigram multiplicity features, XXH64 string-hash bucketing (the
    webx/oracles.py port), target/raw bucket counts, per-doc masses."""
    from webx import oracles as _o

    return _o.XXH64_MACROS + (
        "WITH toksrc AS (SELECT doc_id, list_transform(regexp_split_to_array("
        f"trim(text), {WS_SPLIT_SQL}), w -> lower(w)) AS t FROM documents), "
        "uni AS (SELECT doc_id, unnest(t) AS g FROM toksrc), "
        "bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1), "
        "i -> t[i] || ' ' || t[i+1])) AS g FROM toksrc WHERE len(t) >= 2), "
        "grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi), "
        "vocab AS (SELECT DISTINCT g FROM grams), "
        + _o.xxh64_str_ctes("vocab", "g", "g", "gh")
        + ", gb AS (SELECT grams.doc_id, "
        f"(((xsigned(gh.h) % {buckets}) + {buckets}) % {buckets}) AS b "
        "FROM grams JOIN gh USING (g)), "
        "tgt AS (SELECT b, count(*) AS ct FROM gb WHERE doc_id % 97 = 0 GROUP BY b), "
        "rawc AS (SELECT b, count(*) AS cr FROM gb GROUP BY b), "
        "per AS (SELECT doc_id, b, count(*) AS m FROM gb GROUP BY doc_id, b) "
        "SELECT per.doc_id, CAST(SUM(m) AS BIGINT) AS n_grams, "
        "CAST(SUM(m * coalesce(t.ct, 0)) AS BIGINT) AS t_mass, "
        "CAST(SUM(m * r.cr) AS BIGINT) AS r_mass "
        "FROM per LEFT JOIN tgt t USING (b) JOIN rawc r USING (b) "
        "GROUP BY per.doc_id"
    )



def _lm_perplexity_oracle_sql() -> str:
    """DuckDB mirror of webx.curate.lm_perplexity's integer core: bigram
    positions per doc, model counts from the every-97th train slice,
    context counts folded from the bigram table, per-doc masses."""
    return (
        "WITH toksrc AS (SELECT doc_id, list_transform(regexp_split_to_array("
        f"trim(text), {WS_SPLIT_SQL}), w -> lower(w)) AS t FROM documents), "
        "pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i "
        "FROM toksrc WHERE len(t) >= 2), "
        "bg AS (SELECT doc_id, t[i] AS prev, t[i + 1] AS w FROM pos), "
        "tr AS (SELECT prev, w, count(*) AS c2 FROM bg WHERE doc_id % 97 = 0 "
        "GROUP BY prev, w), "
        "ctx AS (SELECT prev, sum(c2) AS c1 FROM tr GROUP BY prev), "
        "per AS (SELECT doc_id, prev, w, count(*) AS m FROM bg GROUP BY doc_id, prev, w), "
        "j AS (SELECT per.doc_id, m, coalesce(tr.c2, 0) AS c2, coalesce(ctx.c1, 0) AS c1 "
        "FROM per LEFT JOIN tr USING (prev, w) LEFT JOIN ctx USING (prev)), "
        "agg AS (SELECT doc_id, SUM(m) AS n_bigrams, SUM(m * c2) AS bg_mass, "
        "SUM(m * c1) AS ctx_mass FROM j GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams, "
        "CAST(coalesce(bg_mass, 0) AS BIGINT) AS bg_mass, "
        "CAST(coalesce(ctx_mass, 0) AS BIGINT) AS ctx_mass "
        "FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)"
    )


def _dedup_clusters_oracle_sql() -> str:
    """Transitive closure over the minhash oracle's pair set: component
    id = min reachable doc_id (nested WITH inside the pairs CTE)."""
    from webx import oracles as _o

    inner = _o.minhash_oracle_sql(threshold=0.6)
    assert inner.startswith(_o.XXH64_MACROS)
    inner_body = inner[len(_o.XXH64_MACROS):]
    return _o.XXH64_MACROS + (
        "WITH RECURSIVE pairs AS (" + inner_body + "), "
        "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs), "
        "reach AS (SELECT a AS node, b AS r FROM edges "
        "UNION SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node) "
        "SELECT node AS doc_id, least(node, min(r)) AS cluster_id "
        "FROM reach GROUP BY node"
    )


def _script_oracle_sql() -> str:
    """DuckDB mirror of q_script_profile, generated from
    webx.textstats.SCRIPT_RANGES — pattern text and argmax fold shared."""
    from webx.textstats import SCRIPT_RANGES

    inject = (
        "(text || CASE doc_id % 5 "
        "WHEN 1 THEN repeat('\u044f', n_chars + 1) "
        "WHEN 2 THEN ' \u03b1\u03b2\u03b3\u03b4\u03b5' "
        "WHEN 3 THEN ' \u0645\u0631\u062d\u0628\u0627' "
        "WHEN 4 THEN ' \u4f60\u597d\u4e16\u754c\u3053\u3093\u306b\u3061\u306f' "
        "ELSE '' END)"
    )
    counts = ", ".join(
        f"CAST(length(regexp_extract_all(t, '[{rng}]')) AS INT) AS n_{name}"
        for name, rng in SCRIPT_RANGES
    )
    # same fold as script_profile: best flips only on a STRICT > of the
    # running greatest, so ties keep the earlier-listed script
    names = [n for n, _ in SCRIPT_RANGES]
    dominant = f"'{names[0]}'"
    for i in range(1, len(names)):
        prev = ", ".join(f"n_{n}" for n in names[:i])
        prev_best = f"greatest({prev})" if i > 1 else f"n_{names[0]}"
        dominant = (
            f"CASE WHEN n_{names[i]} > {prev_best} "
            f"THEN '{names[i]}' ELSE {dominant} END"
        )
    return (
        f"WITH v AS (SELECT doc_id, {inject} AS t FROM documents), "
        f"w AS (SELECT doc_id, {counts} FROM v) "
        f"SELECT doc_id, {', '.join('n_' + n for n in names)}, "
        f"{dominant} AS dominant_script FROM w"
    )


def _pii_oracle_sql() -> str:
    """DuckDB mirror of q_pii_redact, generated from webx.pii.PII_PATTERNS
    so the pattern text is shared verbatim between both engines."""
    from webx.pii import PII_PATTERNS

    inject = (
        "(text || CASE doc_id % 4 "
        "WHEN 0 THEN ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail' || "
        "CAST(doc_id % 5 AS VARCHAR) || '.example.org today.' "
        "WHEN 1 THEN ' Call +1-555-0' || CAST(doc_id % 10 AS VARCHAR) || '0-1234 now.' "
        "WHEN 2 THEN ' Server 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || "
        "CAST(doc_id % 100 AS VARCHAR) || '.7 up.' "
        "ELSE '' END)"
    )
    counts = ", ".join(
        f"CAST(length(regexp_extract_all(t, '{pat}')) AS INT) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    redacted = "t"
    for _, pat, sentinel in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{sentinel}', 'g')"
    total = " + ".join(
        f"length(regexp_extract_all(t, '{pat}'))" for _, pat, _ in PII_PATTERNS
    )
    return (
        f"WITH v AS (SELECT doc_id, {inject} AS t FROM documents) "
        f"SELECT doc_id, {counts}, CAST(({total}) > 0 AS INT) AS has_pii, "
        f"{redacted} AS redacted FROM v"
    )


def oracle_sql() -> dict[str, str]:
    from webx.graph import (
        pagerank_int_oracle_sql,
        redirect_oracle_sql,
        trustrank_int_oracle_sql,
    )

    c = _C
    _rbase = "('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com')"
    _rid = "CAST(doc_id AS VARCHAR)"
    redirect_edges_sql = (
        f"SELECT ({_rbase} || '/r/' || {_rid} || '/' || CAST(u.i AS VARCHAR)) "
        "AS url, "
        f"CASE WHEN u.i < doc_id % 4 THEN ({_rbase} || '/r/' || {_rid} || '/' "
        "|| CAST(u.i + 1 AS VARCHAR)) "
        f"ELSE ({_rbase} || '/doc/' || {_rid}) END AS location "
        "FROM documents CROSS JOIN UNNEST([0, 1, 2, 3]) AS u(i) "
        "WHERE u.i <= doc_id % 4 "
        "UNION ALL "
        f"SELECT ({_rbase} || '/loop/' || {_rid} || '/a'), "
        f"({_rbase} || '/loop/' || {_rid} || '/b') "
        "FROM documents WHERE doc_id % 97 = 0 "
        "UNION ALL "
        f"SELECT ({_rbase} || '/loop/' || {_rid} || '/b'), "
        f"({_rbase} || '/loop/' || {_rid} || '/a') "
        "FROM documents WHERE doc_id % 97 = 0"
    )
    span_start = f"{c['head_utf8']} + length({DID}) + {c['chrome']}"
    esc_len = f"length({ESC})"
    return {
        "q_extract": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        # gnarly rotation: mess is chrome-only by construction, so the
        # expected text is the flagship closed form for every template
        "q_extract_gnarly": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        # consent-modal + newsletter chrome: dropped by class/id-hint
        # regions only, so the expected text is again the flagship form
        "q_extract_overlay": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        # heading rescue: the font/bold story headline sits between the
        # h1 line and the paragraph — kept only by the rescue predicate;
        # the sub-threshold ISSN strapline must NOT appear
        "q_extract_headline": (
            f"SELECT {URL} AS url, ({DID} || {NL} || "
            f"'{synth.HEADLINE_LINE}' || {NL} || {NORM}) AS text "
            "FROM documents"
        ),
        # comment separation: main text is the flagship closed form;
        # the comments section's three lines land in comment_text
        "q_split_comments": (
            f"SELECT {URL} AS url, {GOLDEN} AS text, "
            f"('{synth.COMMENT_LINES[0]}' || {NL} || "
            f"'{synth.COMMENT_LINES[1]}' || {NL} || "
            f"'{synth.COMMENT_LINES[2]}') AS comment_text, "
            "1 AS n_comment_spans FROM documents"
        ),
        # pre whitespace preservation: the code sample's three lines
        # append verbatim (indentation + double spaces intact, entities
        # decoded) after the flagship closed form
        "q_extract_pre": (
            f"SELECT {URL} AS url, ({GOLDEN} || {NL} || "
            f"'{synth.PRE_LINES[0]}' || {NL} || "
            f"'{synth.PRE_LINES[1]}' || {NL} || "
            f"'{synth.PRE_LINES[2]}') AS text FROM documents"
        ),
        # data-table extraction: the spec table's 4×2 cells are
        # closed-form per document; the link layout table contributes
        # nothing (classifier-rejected)
        "q_extract_tables": (
            f"SELECT {URL} AS url, 0 AS table_idx, g.r AS row_idx, "
            "g.c AS col_idx, g.r = 0 AS header, "
            "CASE WHEN g.r = 0 AND g.c = 0 THEN 'Property' "
            "WHEN g.r = 0 AND g.c = 1 THEN 'Value' "
            "WHEN g.r = 1 AND g.c = 0 THEN 'Identifier' "
            f"WHEN g.r = 1 AND g.c = 1 THEN {DID} "
            "WHEN g.r = 2 AND g.c = 0 THEN 'Language' "
            "WHEN g.r = 2 AND g.c = 1 THEN lang "
            "WHEN g.r = 3 AND g.c = 0 THEN 'Score' "
            "ELSE CAST(doc_id % 97 AS VARCHAR) END AS cell, "
            "'Document facts' AS caption "
            "FROM documents CROSS JOIN "
            "(SELECT a.range AS r, b.range AS c FROM range(4) a, range(2) b) g"
        ),
        # raw-kept <xmp> sample: its content is LITERAL text (tags shown,
        # entities undecoded), so the extra line is the source constant
        "q_extract_rawkept": (
            f"SELECT {URL} AS url, ({GOLDEN} || {NL} || "
            "'Use <b>tags</b> &amp; entities literally, as written.') AS text "
            "FROM documents"
        ),
        # non-prose drop regions: svg/ruby/select/button text vanishes,
        # leaving exactly this prose line after the flagship golden
        "q_extract_nonprose": (
            f"SELECT {URL} AS url, ({GOLDEN} || {NL} || "
            "'Quarterly rates fell to nine percent as the 東京 office "
            "reported this spring; pick a region and then confirm the "
            "filing window.') AS text FROM documents"
        ),
        # invisible format chars: SHY/ZWSP/bidi/WJ/FEFF stripped, the
        # orthographic joiners (ZWNJ/ZWJ) kept — the expected line is
        # the synth constant verbatim (single source of truth; it
        # contains no single quotes, so it embeds as a SQL literal)
        "q_extract_invisible": (
            f"SELECT {URL} AS url, ({GOLDEN} || {NL} || "
            f"'{synth.INVISIBLE_LINE}') AS text FROM documents"
        ),
        # optional NFC composition: the oracle replays DuckDB's own
        # nfc_normalize over the same decomposed source literal the
        # page embeds (synth.NFC_SRC, quote-free) — utf8proc (DuckDB)
        # and unicodedata (CPython) must agree byte-for-byte
        "q_extract_nfc": (
            f"SELECT {URL} AS url, nfc_normalize({GOLDEN} || {NL} || "
            f"'{synth.NFC_SRC}') AS text FROM documents"
        ),
        # charset edge rotation: flagship golden + per-case suffix
        # (0xA3 under x-user-defined decodes to U+F7A3 = 63395)
        "q_extract_charset_edge": (
            f"SELECT {URL} AS url, ({GOLDEN} || CASE doc_id % 5 "
            "WHEN 2 THEN ' ' || chr(8364) || '1999' "
            "WHEN 3 THEN ' key ' || chr(63395) "
            "ELSE ' caf' || chr(233) END) AS text FROM documents"
        ),
        "q_extract_multispan": (
            f"SELECT {URL} AS url, "
            f"({DID} || {NL} || {NORM} || {NL} || 'Notes' || {NL} || upper({NORM})) AS text "
            "FROM documents"
        ),
        "q_extract_entities": (
            f"SELECT {URL} AS url, "
            f"({DID} || {NL} || 'Fish & chips <tag> AB ' || chr(8230) || ' ' || {NORM}) AS text "
            "FROM documents"
        ),
        "q_extract_latin1": (
            f"SELECT {URL} AS url, "
            f"({DID} || {NL} || {NORM} || ' caf' || chr(233)) AS text FROM documents"
        ),
        "q_extract_filter_empty": (
            f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents WHERE doc_id % 5 <> 0"
        ),
        "q_extract_warc": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        "q_extract_warc_damaged": (
            f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents"
        ),
        "q_xrobots_gate": (
            f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents "
            "WHERE doc_id % 4 <> 0"
        ),
        "q_politeness_audit": (
            "SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host, "
            "COUNT(*) AS n_requests, CAST(91 AS DOUBLE) AS min_gap_s, "
            "CAST(91 AS DOUBLE) AS avg_gap_s "
            "FROM documents GROUP BY doc_id % 7"
        ),
        "q_mime_route": (
            "SELECT doc_id, CASE doc_id % 8 "
            "WHEN 0 THEN 'text/html' WHEN 1 THEN 'application/pdf' "
            "WHEN 2 THEN 'image/png' WHEN 3 THEN 'image/gif' "
            "WHEN 4 THEN 'image/jpeg' WHEN 5 THEN 'application/zip' "
            "WHEN 6 THEN 'application/gzip' ELSE 'text/plain' END AS mime "
            "FROM documents"
        ),
        "q_idn_homograph": (
            "SELECT doc_id, "
            "CASE doc_id % 4 WHEN 0 THEN 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' "
            "WHEN 1 THEN 'xn--pypal-4ve.com' WHEN 2 THEN 'xn--h1ahn.com' "
            "ELSE 'xn--bcher-kva.com' END AS host, "
            "CASE doc_id % 4 WHEN 0 THEN 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' "
            "WHEN 1 THEN 'pаypal.com' WHEN 2 THEN 'мир.com' "
            "ELSE 'bücher.com' END AS decoded_host, "
            "(doc_id % 4 <> 0) AS is_punycode, "
            "(doc_id % 4 = 1) AS mixed_script "
            "FROM documents"
        ),
        "q_char_entropy": (
            "WITH pre AS (SELECT doc_id, SUBSTRING(text, 1, 4096) AS t FROM documents), "
            "cnt AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS c FROM "
            "(SELECT doc_id, UNNEST(string_split(t, '')) AS ch FROM pre) GROUP BY doc_id, ch) "
            "SELECT pre.doc_id, "
            "ROUND(LOG2(LENGTH(pre.t)) - SUM(cnt.c * LOG2(cnt.c)) / LENGTH(pre.t), 6) AS entropy "
            "FROM pre JOIN cnt ON pre.doc_id = cnt.doc_id GROUP BY pre.doc_id, pre.t"
        ),
        "q_extract_warc_charset": (
            f"SELECT {URL} AS url, ({DID} || {NL} || {NORM} || ' ' || chr(8220) "
            "|| 'q' || CAST(doc_id AS VARCHAR) || chr(8221)) AS text FROM documents"
        ),
        "q_extract_warc_revisit": (
            f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents "
            f"UNION ALL SELECT {URL} || '?rev=1' AS url, {GOLDEN} AS text "
            "FROM documents"
        ),
        "q_extract_wet": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        "q_wat_links": (
            "WITH h(href) AS (VALUES ('/'),('/products'),('/pricing'),('/about'),('/contact'),('/r/1'),('/r/2'),('/r/3'),('/terms'),('/privacy')) "
            f"SELECT {URL} AS url, h.href AS href, "
            "('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' || h.href) "
            "AS resolved FROM documents CROSS JOIN h"
        ),
        "q_extract_pdf": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        "q_extract_pdf_encrypted": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        "q_extract_pdf_cid": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        # bulk parallel-array roundtrip: shard = doc_id % 16; idx = rank
        # within the shard by doc_id (the array_sort(struct(doc_id,…))
        # pack order); name/text recovered verbatim
        "q_convert_bulk": (
            "SELECT (doc_id % 16) AS shard_id, "
            "(ROW_NUMBER() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1)"
            f" AS idx, {URL} AS name, text FROM documents"
        ),
        "q_keyed_store": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        "q_convert_jsonl": f"SELECT {URL} AS url, {GOLDEN} AS text FROM documents",
        "q_publish_dates": (
            f"SELECT CASE WHEN doc_id % 5 <= 3 THEN {URL} || '/' || "
            "strftime(DATE '2024-01-01' + CAST(doc_id % 300 AS INT) + 3, "
            f"'%Y/%m/%d') || '/post' ELSE {URL} END AS url, "
            "CASE WHEN doc_id % 5 = 4 THEN '' ELSE "
            "strftime(DATE '2024-01-01' + CAST(doc_id % 300 AS INT) "
            "+ CAST(doc_id % 5 AS INT), '%Y-%m-%d') END AS publish_date, "
            "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'meta' "
            "WHEN 1 THEN 'jsonld' WHEN 2 THEN 'time' WHEN 3 THEN 'url' "
            "ELSE '' END AS publish_date_source FROM documents"
        ),
        "q_convert_det_labels": (
            f"SELECT {URL} AS url, 1 AS n_spans, "
            f"CAST({span_start} AS BIGINT) AS start, "
            f"CAST({span_start} + length({DID}) + {c['mid']} + {esc_len} AS BIGINT) AS \"end\", "
            "'content' AS kind FROM documents"
        ),
        "q_spans_stats": (
            f"SELECT {URL} AS url, (CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END) AS n_spans "
            "FROM documents"
        ),
        "q_golden_spans": (
            f"SELECT {URL} AS url, 0 AS span_idx, "
            f"CAST({span_start} AS BIGINT) AS start, "
            f"CAST({span_start} + length({DID}) + {c['mid']} + {esc_len} AS BIGINT) AS \"end\", "
            "'content' AS kind FROM documents"
        ),
        "q_rec_metric": (
            "SELECT COUNT(*) AS n_docs, COUNT(*) AS n_correct, "
            f"CAST(SUM(levenshtein({GOLDEN}, text)) AS BIGINT) AS sum_edit FROM documents"
        ),
        "q_lang_rollup": (
            f"SELECT lang, COUNT(*) AS n_docs, CAST(SUM(length({GOLDEN})) AS BIGINT) AS sum_chars "
            "FROM documents GROUP BY lang"
        ),
        "q_topk_spans": (
            f"SELECT {URL} AS url, ({DID} || {NL} || {NORM}) AS top_text, "
            f"length({DID} || {NL} || {NORM}) AS top_len FROM documents"
        ),
        "q_token_count": (
            f"SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), {WS_SPLIT_SQL})) AS INT) "
            "AS n_tokens FROM documents"
        ),
        "q_quality": (
            "SELECT doc_id, CAST(length(text) AS INT) AS n_chars, "
            f"CAST(len(regexp_split_to_array(trim(text), {WS_SPLIT_SQL})) AS INT) AS n_tokens, "
            f"CAST(len(list_filter(regexp_split_to_array(trim(text), {WS_SPLIT_SQL}), "
            f"w -> list_contains({STOP_SQL}, lower(w)))) AS INT) AS n_stopwords, "
            "CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) "
            "AS n_punct FROM documents"
        ),
        "q_token_count_bpe": (
            "SELECT doc_id, CAST(len(regexp_extract_all(text, "
            "'''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\r\\n]')) "
            "AS INT) AS n_bpe_tokens FROM documents"
        ),
        "q_quality_filter": (
            "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), "
            f"{WS_SPLIT_SQL}) AS toks FROM documents), "
            "s AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, "
            "list_sum(list_transform(toks, w -> length(w))) AS sum_len, "
            "len(list_filter(toks, w -> w IN ('#','...',chr(8230)) "
            "OR starts_with(w, '#'))) AS n_sym, "
            f"len(list_filter(toks, w -> list_contains({STOP_SQL}, lower(w)))) AS n_stop "
            "FROM t), "
            "f AS (SELECT doc_id, n_tokens, "
            "sum_len / CAST(greatest(n_tokens, 1) AS DOUBLE) AS mean_word_len, "
            "(n_tokens >= 50 AND n_tokens <= 100000) AS ok_len, "
            "(sum_len / CAST(greatest(n_tokens, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0) AS ok_word, "
            "(n_sym / CAST(greatest(n_tokens, 1) AS DOUBLE) <= 0.1) AS ok_sym, "
            "(n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE) >= 0.03) AS ok_stop FROM s) "
            "SELECT doc_id, n_tokens, mean_word_len, ok_len, ok_word, ok_sym, ok_stop, "
            "(ok_len AND ok_word AND ok_sym AND ok_stop) AS keep FROM f"
        ),
        "q_repetition": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(list_transform(string_split(coalesce(text, ''), chr(10)), "
            "x -> trim(x)), ln -> ln <> '') AS lines, "
            f"regexp_split_to_array(trim(coalesce(text, '')), {WS_SPLIT_SQL}) AS toks "
            "FROM documents), "
            "b AS (SELECT doc_id, len(lines) AS n_lines, "
            "len(list_distinct(lines)) AS n_distinct, len(toks) AS n, "
            "(CASE WHEN len(toks) >= 2 THEN list_transform("
            "generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]) "
            "ELSE [] END) AS bg FROM t) "
            "SELECT doc_id, CAST(n_lines AS INT) AS n_lines, "
            "(CASE WHEN n_lines > 0 THEN 1.0 - n_distinct / CAST(n_lines AS DOUBLE) "
            "ELSE 0.0 END) AS dup_line_frac, "
            "(CASE WHEN n >= 2 THEN 2.0 * list_max(list_transform(bg, "
            "x -> len(list_filter(bg, y -> y = x)))) / CAST(n AS DOUBLE) "
            "ELSE 0.0 END) AS top_bigram_frac FROM b"
        ),
        "q_langid": _langid_oracle_sql(),
        "q_langid_model": _langid_model_oracle_sql(),
        "q_langid_paragraphs": _langid_paragraphs_oracle_sql(),
        "q_fingerprint": (
            "SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g'))) "
            "AS fp FROM documents"
        ),
        "q_dedup_exact": (
            "SELECT md5(text) AS fp, COUNT(*) AS n_dups, MIN(doc_id) AS min_doc_id "
            "FROM documents GROUP BY md5(text)"
        ),
        "q_ann_cosine": (
            "WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8), "
            "s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id, "
            "list_cosine_similarity(q.qe, c.embedding) AS cos "
            "FROM q, embeddings c WHERE c.vec_id <> q.qid) "
            "SELECT query_id, rank, neighbor_id FROM ("
            "SELECT query_id, neighbor_id, CAST(row_number() OVER "
            "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM s) "
            "WHERE rank <= 5"
        ),
        "q_events_window": (
            "SELECT date_trunc('hour', ts) AS window_start, event_type, "
            "COUNT(*) AS n_events, "
            "CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
            "FROM events GROUP BY 1, 2"
        ),
        "q_media_meta": (
            f"SELECT {URL} AS url, "
            f"CAST({c['head_utf8']} + 2 * length({DID}) + {c['chrome']} + {c['mid']} "
            f"+ {esc_len} + {c['tail_bytes']} AS INT) AS n_bytes, TRUE AS is_html "
            "FROM documents"
        ),
        "q_det_metric": (
            "WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(*) FILTER (WHERE doc_id % 5 <> 0) AS BIGINT) AS nb FROM documents) "
            "SELECT n AS n_golden, nb AS n_pred, nb AS tp, CAST(1.0 AS DOUBLE) AS precision, "
            "nb / CAST(n AS DOUBLE) AS recall, "
            "(2.0 * (nb / CAST(n AS DOUBLE))) / (1.0 + nb / CAST(n AS DOUBLE)) AS f1 FROM c"
        ),
        "q_rec_quality": (
            f"SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(SUM(CASE WHEN {GOLDEN} = text THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, "
            f"AVG(CASE WHEN {GOLDEN} = text THEN 1.0 ELSE 0.0 END) AS acc, "
            f"AVG(1.0 - levenshtein({GOLDEN}, text) / "
            f"CAST(greatest(length({GOLDEN}), length(text), 1) AS DOUBLE)) AS norm_edit "
            "FROM documents"
        ),
        "q_dedup_jaccard": (
            "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 20), "
            "p AS (SELECT doc_id + 1000000 AS doc_id, "
            "regexp_replace(text, '\\s+\\S+$', '') AS text FROM d), "
            "sh AS (SELECT doc_id, list_distinct(list_transform("
            "generate_series(1, greatest(len(toks) - 2, 1)), "
            "i -> array_to_string(toks[i:i+2], ' '))) AS sh "
            f"FROM (SELECT doc_id, regexp_split_to_array(trim(text), {WS_SPLIT_SQL}) AS toks "
            "FROM (SELECT * FROM d UNION ALL SELECT * FROM p))) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "len(list_intersect(a.sh, b.sh)) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard "
            "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000"
        ),
        "q_rake": _rake_oracle_sql(k=5),
        "q_texttiling": _texttiling_oracle_sql(block=10),
        "q_capture_recapture": _capture_recapture_oracle_sql(),
        "q_jaccard_join": (
            # the NAIVE all-pairs Jaccard join — equality with the
            # prefix-filtered Spark plan is the completeness theorem
            "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150), "
            "p AS (SELECT doc_id + 1000000 AS doc_id, "
            "regexp_replace(text, '\\s+\\S+$', '') AS text "
            "FROM documents WHERE doc_id < 20), "
            "sh AS (SELECT doc_id, list_distinct(list_transform("
            "generate_series(1, greatest(len(toks) - 2, 1)), "
            "i -> array_to_string(toks[i:i+2], ' '))) AS sh "
            f"FROM (SELECT doc_id, regexp_split_to_array(trim(text), {WS_SPLIT_SQL}) AS toks "
            "FROM (SELECT * FROM d UNION ALL SELECT * FROM p))) "
            "SELECT id_a, id_b, jaccard FROM ("
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "len(list_intersect(a.sh, b.sh)) / "
            "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) "
            "WHERE jaccard >= 0.5"
        ),
        "q_l_diversity": (
            "SELECT lang, CAST(n_chars // 100 AS INT) AS len_bucket, "
            "count(*) AS n, count(DISTINCT source) AS n_sensitive, "
            "CAST(count(DISTINCT source) < 3 AS INT) AS l_violation "
            "FROM documents GROUP BY 1, 2"
        ),
        "q_fuzzy_join": (
            # the NAIVE all-pairs edit-distance join; the length-band
            # prune is complete (|len(a)-len(b)| <= ed(a,b)), so this is
            # the exact truth the blocked Spark plan must reproduce
            "WITH t AS (SELECT doc_id AS id, substr(text, 1, 24) AS s "
            "FROM documents UNION ALL "
            "SELECT doc_id + 1000000, "
            "substr(substr(text, 1, 24), 1, doc_id % 20 + 1) || "
            "substr(substr(text, 1, 24), doc_id % 20 + 3) "
            "FROM documents WHERE doc_id < 30) "
            "SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s) AS dist "
            "FROM t a JOIN t b ON a.id < b.id "
            "AND abs(length(a.s) - length(b.s)) <= 1 "
            "WHERE levenshtein(a.s, b.s) <= 1"
        ),
        "q_jw_join": (
            # the NAIVE all-pairs Jaro-Winkler join with DuckDB's NATIVE
            # scorer and NO length prune; the Spark side's log-banded
            # byte-length blocking is complete by jw>=t => min/max>=5t-4,
            # so equality re-proves the theorem AND the byte-level
            # scorer's bit-compatibility per driver run
            "WITH b AS (SELECT doc_id AS id, "
            "substr(text, 1, 8 + doc_id % 24) AS s FROM documents "
            "WHERE doc_id % 4 = 0), "
            "p AS (SELECT doc_id, substr(text, 1, 8 + doc_id % 24) AS k, "
            "doc_id % 6 + 2 AS p FROM documents "
            "WHERE doc_id < 40 AND doc_id % 4 = 0), "
            "t AS (SELECT id, s FROM b UNION ALL "
            "SELECT doc_id + 1000000, "
            "substr(k, 1, p - 1) || substr(k, p + 1, 1) || "
            "substr(k, p, 1) || substr(k, p + 2) FROM p) "
            "SELECT a.id AS id_a, b.id AS id_b, "
            "jaro_winkler_similarity(a.s, b.s) AS jw "
            "FROM t a JOIN t b ON a.id < b.id "
            "WHERE jaro_winkler_similarity(a.s, b.s) >= 0.94"
        ),
        "q_neardup_embedding": (
            "WITH e AS (SELECT vec_id, embedding FROM embeddings "
            "UNION ALL SELECT vec_id + 1000000, "
            "CAST(list_transform(embedding, x -> x * 2) AS FLOAT[]) "
            "FROM embeddings WHERE vec_id < 20) "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a, e b "
            "WHERE a.vec_id < b.vec_id "
            "AND list_cosine_similarity(a.embedding, b.embedding) >= 0.95"
        ),
        "q_extract_mixed": (
            f"SELECT {URL} AS url, "
            "CASE doc_id % 6 WHEN 0 THEN 'html' WHEN 1 THEN 'pdf' "
            "WHEN 2 THEN 'image' WHEN 3 THEN 'other' "
            "WHEN 4 THEN 'audio' ELSE 'video' END AS kind, "
            f"CASE WHEN doc_id % 6 IN (0, 1) THEN {GOLDEN} END AS text, "
            "CASE WHEN doc_id % 6 = 3 THEN 'skipped' ELSE 'ok' END AS status, "
            "CASE WHEN doc_id % 6 IN (2, 5) THEN CAST(64 + doc_id % 193 AS INT) END AS width, "
            "CASE WHEN doc_id % 6 IN (2, 5) THEN CAST(48 + doc_id % 129 AS INT) END AS height, "
            "CASE WHEN doc_id % 6 = 4 THEN "
            "CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 AS INT) + 1] AS INT) END AS sample_rate, "
            "CASE WHEN doc_id % 6 = 5 THEN "
            "CAST(1000 + (doc_id % 89) * 250 AS BIGINT) END AS duration_ms "
            "FROM documents"
        ),

        "q_extract_warc_mixed": (
            f"SELECT {URL} AS url, "
            "CASE doc_id % 6 WHEN 0 THEN 'html' WHEN 1 THEN 'pdf' "
            "WHEN 2 THEN 'image' WHEN 3 THEN 'other' "
            "WHEN 4 THEN 'audio' ELSE 'video' END AS kind, "
            f"CASE WHEN doc_id % 6 IN (0, 1) THEN {GOLDEN} END AS text, "
            "CASE WHEN doc_id % 6 = 3 THEN 'skipped' ELSE 'ok' END AS status, "
            "CASE WHEN doc_id % 6 IN (2, 5) THEN CAST(64 + doc_id % 193 AS INT) END AS width, "
            "CASE WHEN doc_id % 6 IN (2, 5) THEN CAST(48 + doc_id % 129 AS INT) END AS height, "
            "CASE WHEN doc_id % 6 = 4 THEN "
            "CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 AS INT) + 1] AS INT) END AS sample_rate, "
            "CASE WHEN doc_id % 6 = 5 THEN "
            "CAST(1000 + (doc_id % 89) * 250 AS BIGINT) END AS duration_ms "
            "FROM documents"
        ),        "q_video_headers": (
            "SELECT doc_id AS media_id, "
            "CASE WHEN doc_id % 19 = 0 THEN NULL ELSE 'mp4' END AS fmt, "
            "CASE WHEN doc_id % 19 = 0 THEN NULL "
            "ELSE CAST(64 + doc_id % 193 AS INT) END AS width, "
            "CASE WHEN doc_id % 19 = 0 THEN NULL "
            "ELSE CAST(48 + doc_id % 129 AS INT) END AS height, "
            "CASE WHEN doc_id % 19 = 0 THEN NULL "
            "ELSE CAST(1000 + (doc_id % 89) * 250 AS BIGINT) END AS duration_ms, "
            "doc_id % 19 <> 0 AS valid FROM documents"
        ),
        "q_audio_headers": (
            "WITH p AS (SELECT doc_id, doc_id % 3 AS k FROM documents) "
            "SELECT doc_id AS media_id, "
            "CASE WHEN doc_id % 13 = 0 THEN NULL "
            "WHEN k = 0 THEN 'wav' WHEN k = 1 THEN 'flac' ELSE 'mp3' END AS fmt, "
            "CASE WHEN doc_id % 13 = 0 THEN NULL WHEN k < 2 THEN "
            "CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 AS INT) + 1] AS INT) "
            "ELSE CAST([44100,48000,32000][CAST((doc_id // 3) % 3 AS INT) + 1] AS INT) "
            "END AS sample_rate, "
            "CASE WHEN doc_id % 13 = 0 THEN NULL "
            "ELSE CAST(1 + doc_id % 2 AS INT) END AS channels, "
            "doc_id % 13 <> 0 AS valid FROM p"
        ),
        "q_image_headers": (
            "SELECT doc_id AS media_id, "
            "CASE WHEN doc_id % 17 = 0 THEN NULL "
            "WHEN doc_id % 4 = 0 THEN 'png' WHEN doc_id % 4 = 1 THEN 'gif' "
            "WHEN doc_id % 4 = 2 THEN 'jpeg' ELSE 'webp' END AS fmt, "
            "CASE WHEN doc_id % 17 = 0 THEN NULL "
            "ELSE CAST(64 + doc_id % 193 AS INT) END AS width, "
            "CASE WHEN doc_id % 17 = 0 THEN NULL "
            "ELSE CAST(48 + doc_id % 129 AS INT) END AS height, "
            "doc_id % 17 <> 0 AS valid FROM documents"
        ),
        "q_media_features": (
            "SELECT doc_id AS media_id, "
            "(CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' "
            "ELSE 'video' END) AS kind, "
            "CAST(2 * length(text) + 1 AS INT) AS n_bytes, "
            "CAST(2 * list_sum(list_transform(generate_series(1, length(text)), "
            "i -> ascii(text[i]))) + 124 AS BIGINT) AS byte_sum FROM documents"
        ),
        "q_orders_rollup": (
            "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, "
            "CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"
        ),
        "q_host_stats": (
            "SELECT ('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS host, "
            f"CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(SUM(length({GOLDEN})) AS BIGINT) AS sum_chars "
            "FROM documents GROUP BY 1"
        ),
        "q_kmv_distinct": _oracles.XXH64_MACROS + (
            "WITH d AS (SELECT DISTINCT event_type, "
            "xhash_long(xunsigned(user_id), 42::HUGEINT) AS hu FROM events), "
            "r AS (SELECT event_type, hu, row_number() OVER "
            "(PARTITION BY event_type ORDER BY hu) AS rn FROM d), "
            "t AS (SELECT event_type, count(*) AS n_seen, max(hu) AS maxh "
            "FROM r WHERE rn <= 64 GROUP BY event_type) "
            "SELECT event_type, CAST(n_seen AS BIGINT) AS n_seen, "
            "CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE) "
            "ELSE 63.0 / (CAST(maxh AS DOUBLE) / 18446744073709551616.0) END "
            "AS estimate FROM t"
        ),
        "q_stratified_sample": _sampling_oracle_sql("stratified"),
        "q_split_assign": _sampling_oracle_sql("split"),
        "q_split_leakage": _split_leakage_oracle_sql(),
        "q_tfidf_topk": (
            "WITH terms AS (SELECT doc_id, lower(t.term) AS term FROM ("
            "SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), "
            f"{WS_SPLIT_SQL})) AS term FROM documents) t WHERE t.term <> ''), "
            "n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term), "
            "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term), "
            "scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, "
            "tf.tf * (ln(((SELECT nd FROM n) + 1.0) / (df.df + 1.0)) + 1.0) AS score "
            "FROM tf JOIN df USING (term)), "
            "ranked AS (SELECT doc_id, term, tf, df, "
            "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank "
            "FROM scored) "
            "SELECT doc_id, CAST(rank AS INT) AS rank, term, "
            "CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df "
            "FROM ranked WHERE rank <= 5"
        ),
        "q_collocations": (
            "WITH t AS (SELECT list_filter(list_transform(regexp_split_to_array("
            f"trim(coalesce(text, '')), {WS_SPLIT_SQL}), w -> lower(w)), "
            "w -> w <> '') AS toks FROM documents), "
            "uni AS (SELECT unnest(toks) AS w FROM t), "
            "uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w), "
            "n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc), "
            "pr AS (SELECT unnest(CASE WHEN len(toks) >= 2 THEN "
            "list_transform(generate_series(1, len(toks) - 1), "
            "i -> [toks[i], toks[i+1]]) ELSE CAST([] AS VARCHAR[][]) END) AS p FROM t), "
            "pc AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c_pair FROM pr "
            "GROUP BY 1, 2 HAVING count(*) >= 3) "
            "SELECT pc.w1, pc.w2, c_pair, a.c AS c1, b.c AS c2, "
            "(CAST(c_pair AS DOUBLE) * CAST((SELECT n FROM n) AS DOUBLE)) / "
            "(CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) AS lift "
            "FROM pc JOIN uc a ON a.w = pc.w1 JOIN uc b ON b.w = pc.w2"
        ),
        "q_inverted_index": (
            "WITH terms AS (SELECT DISTINCT doc_id, x.w AS term FROM ("
            "SELECT doc_id, unnest(list_filter(list_transform("
            f"regexp_split_to_array(trim(coalesce(text, '')), {WS_SPLIT_SQL}), "
            "w -> lower(w)), w -> w <> '')) AS w FROM documents) x), "
            "agg AS (SELECT term, count(*) AS df, list_sort(list(doc_id)) AS ids "
            "FROM terms GROUP BY term) "
            "SELECT term, df, array_to_string(ids[1:50], ',') AS postings "
            "FROM agg WHERE df >= 3"
        ),
        "q_embedding_outliers": _oracles.embedding_outliers_oracle_sql(
            n_centroids=16, k_far=3
        ),
        "q_token_f1": (
            f"WITH p AS (SELECT {URL} AS url, text FROM documents), "
            f"g AS (SELECT {URL} AS url, {GOLDEN} AS text FROM documents), "
            "pc AS (SELECT url, t, count(*) AS cp FROM (SELECT url, "
            "unnest(list_filter(regexp_split_to_array(trim(coalesce(text, '')), "
            f"{WS_SPLIT_SQL}), w -> w <> '')) AS t FROM p) GROUP BY url, t), "
            "gc AS (SELECT url, t, count(*) AS cg FROM (SELECT url, "
            "unnest(list_filter(regexp_split_to_array(trim(coalesce(text, '')), "
            f"{WS_SPLIT_SQL}), w -> w <> '')) AS t FROM g) GROUP BY url, t), "
            "j AS (SELECT coalesce(pc.url, gc.url) AS url, "
            "coalesce(cp, 0) AS cp, coalesce(cg, 0) AS cg "
            "FROM pc FULL OUTER JOIN gc ON pc.url = gc.url AND pc.t = gc.t), "
            "per_url AS (SELECT url, CAST(SUM(cp) AS BIGINT) AS n_pred, "
            "CAST(SUM(cg) AS BIGINT) AS n_gold, "
            "CAST(SUM(least(cp, cg)) AS BIGINT) AS n_overlap FROM j GROUP BY url), "
            "urls AS (SELECT url FROM p UNION SELECT url FROM g) "
            "SELECT urls.url, coalesce(n_pred, 0) AS n_pred, "
            "coalesce(n_gold, 0) AS n_gold, coalesce(n_overlap, 0) AS n_overlap, "
            "CASE WHEN coalesce(n_pred, 0) + coalesce(n_gold, 0) = 0 THEN 1.0 "
            "ELSE (2.0 * CAST(coalesce(n_overlap, 0) AS DOUBLE)) "
            "/ CAST(coalesce(n_pred, 0) + coalesce(n_gold, 0) AS DOUBLE) END AS f1 "
            "FROM urls LEFT JOIN per_url ON urls.url = per_url.url"
        ),
        "q_semdedup": _oracles.semdedup_oracle_sql(
            threshold=0.93, n_centroids=16, n_dup=20
        ),
        "q_punct_norm": _punct_norm_oracle_sql(),
        "q_char_classes": (
            "SELECT doc_id, CAST(length(coalesce(text, '')) AS INT) AS n_chars, "
            "CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Z]')) AS INT) AS n_upper, "
            "CAST(len(regexp_extract_all(coalesce(text, ''), '[a-z]')) AS INT) AS n_lower, "
            "CAST(len(regexp_extract_all(coalesce(text, ''), '[0-9]')) AS INT) AS n_digit, "
            "CAST(len(regexp_extract_all(coalesce(text, ''), '[ \\t\\r\\n]')) AS INT) AS n_space, "
            "CAST(length(coalesce(text, '')) "
            "- len(regexp_extract_all(coalesce(text, ''), '[A-Z]')) "
            "- len(regexp_extract_all(coalesce(text, ''), '[a-z]')) "
            "- len(regexp_extract_all(coalesce(text, ''), '[0-9]')) "
            "- len(regexp_extract_all(coalesce(text, ''), '[ \\t\\r\\n]')) AS INT) "
            "AS n_other FROM documents"
        ),
        "q_host_quality": (
            "WITH q AS (SELECT doc_id, length(text) AS c, "
            f"len(regexp_split_to_array(trim(text), {WS_SPLIT_SQL})) AS t, "
            "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS p "
            "FROM documents) "
            "SELECT ('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS host, "
            "COUNT(*) AS n_docs, CAST(SUM(c) AS BIGINT) AS sum_chars, "
            "CAST(SUM(t) AS BIGINT) AS sum_tokens, "
            "CAST(SUM(p) AS BIGINT) AS sum_punct FROM q GROUP BY 1"
        ),
        "q_chunk_windows": (
            "WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array("
            f"trim(coalesce(text, '')), {WS_SPLIT_SQL}), w -> w <> '') AS toks "
            "FROM documents), "
            "g AS (SELECT doc_id, len(toks) AS n, toks FROM t), "
            "s AS (SELECT doc_id, toks, unnest(generate_series(0, "
            "CASE WHEN n <= 0 THEN -1 ELSE (greatest(n - 128, 0) + 95) // 96 END"
            ")) AS i FROM g) "
            "SELECT doc_id, CAST(i AS INT) AS chunk_idx, "
            "CAST(len(toks[i*96+1 : i*96+128]) AS INT) AS n_chunk_tokens, "
            "array_to_string(toks[i*96+1 : i*96+128], ' ') AS chunk FROM s"
        ),
        "q_markdown": (
            f"SELECT {URL} AS url, "
            f"('# ' || {DID} || {NL} || {NL} || {NORM}) AS markdown, "
            "CAST(1 AS INT) AS n_headings FROM documents"
        ),
        "q_markdown_multi": (
            f"SELECT {URL} AS url, "
            f"('# ' || {DID} || {NL} || {NL} || {NORM} || {NL} || {NL} || "
            f"'## Notes' || {NL} || {NL} || upper({NORM})) AS markdown, "
            "CAST(2 AS INT) AS n_headings FROM documents"
        ),
        "q_temperature_sample": _oracles.XXH64_MACROS + (
            "WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang), "
            "w AS (SELECT lang, n_l, CAST(floor(sqrt(CAST(n_l AS DOUBLE))) AS BIGINT) "
            "AS w_l FROM c), s AS (SELECT SUM(w_l) AS sum_w FROM w) "
            "SELECT d.doc_id, d.lang FROM documents d JOIN w USING (lang), s "
            f"WHERE ({_oracles.hash_bucket_sql('d.doc_id', 42)})::HUGEINT "
            "* s.sum_w::HUGEINT * w.n_l::HUGEINT "
            "< 150::HUGEINT * 1000000::HUGEINT * w.w_l::HUGEINT"
        ),
        "q_bloom_seen": _oracles.XXH64_MACROS + (
            f"WITH b AS (SELECT DISTINCT {URL} AS url FROM documents), "
            + _oracles.xxh64_str_ctes("b", "url", "url", "bh")
            + ", ks AS (SELECT unnest(generate_series(0, 2)) AS i), "
            "bpos AS (SELECT DISTINCT ((xsigned(xhash_int(ks.i, bh.h)) % 1048576) "
            "+ 1048576) % 1048576 AS pos FROM bh, ks), "
            f"c AS (SELECT CASE WHEN doc_id % 2 = 0 THEN {URL} "
            "ELSE 'https://unseen.example.org/p/' || CAST(doc_id AS VARCHAR) "
            "END AS url FROM documents), "
            + _oracles.xxh64_str_ctes("c", "url", "url", "ch")
            + ", cpos AS (SELECT ch.url, ((xsigned(xhash_int(ks.i, ch.h)) "
            "% 1048576) + 1048576) % 1048576 AS pos FROM ch, ks) "
            "SELECT url, bool_and(pos IN (SELECT pos FROM bpos)) AS maybe_seen "
            "FROM cpos GROUP BY url"
        ),
        "q_bpe_pairs": _bpe_oracle_sql("pairs", BPE_MERGES),
        "q_bpe_learn": _bpe_oracle_sql("learn", BPE_MERGES),
        "q_bpe_encode": _bpe_oracle_sql("encode", BPE_MERGES),
        "q_wordpiece": _wordpiece_oracle_sql(steps=10),
        "q_dedup_clusters": _dedup_clusters_oracle_sql(),
        "q_decontaminate": (
            "WITH toks AS (SELECT doc_id, list_transform(regexp_split_to_array("
            f"trim(text), {WS_SPLIT_SQL}), w -> lower(w)) AS t FROM documents), "
            "grams AS (SELECT doc_id, CASE WHEN len(t) >= 13 THEN "
            "list_distinct(list_transform(generate_series(1, len(t) - 12), "
            "i -> array_to_string(t[i:i+12], ' '))) "
            "ELSE [array_to_string(t, ' ')] END AS gs FROM toks), "
            "bench AS (SELECT DISTINCT unnest(gs) AS ng FROM grams WHERE doc_id % 97 = 0), "
            "docg AS (SELECT doc_id, unnest(gs) AS ng FROM grams) "
            "SELECT DISTINCT doc_id FROM docg WHERE ng IN (SELECT ng FROM bench)"
        ),
        "q_paragraph_dedup": (
            "WITH base AS (SELECT doc_id, string_split(text || chr(10) || "
            "'Accept cookies to continue', chr(10)) AS ps FROM documents), "
            "parts AS (SELECT doc_id, unnest(ps) AS para, "
            "unnest(generate_series(1, len(ps))) AS pos FROM base), "
            "ranked AS (SELECT doc_id, pos, para, "
            "CASE WHEN length(para) < 1 THEN 1 ELSE "
            "row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) END AS rk "
            "FROM parts), "
            "kept AS (SELECT * FROM ranked WHERE rk = 1), "
            "rebuilt AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text, "
            "count(*) AS n_kept FROM kept GROUP BY doc_id), "
            "totals AS (SELECT doc_id, count(*) AS n_paragraphs FROM parts GROUP BY doc_id) "
            "SELECT t.doc_id, coalesce(r.text, '') AS text, "
            "CAST(t.n_paragraphs AS BIGINT) AS n_paragraphs, "
            "CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept "
            "FROM totals t LEFT JOIN rebuilt r USING (doc_id)"
        ),
        "q_host_cap": (
            "SELECT doc_id, host FROM ("
            "SELECT doc_id, ('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS host, "
            "row_number() OVER (PARTITION BY doc_id % 7 ORDER BY doc_id) AS rk "
            "FROM documents) WHERE rk <= 50"
        ),
        "q_pack_sequences": (
            "WITH RECURSIVE base AS (SELECT lang AS grp, doc_id, "
            f"CAST(len(regexp_split_to_array(trim(text), {WS_SPLIT_SQL})) AS INT) AS n_tokens, "
            "row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn FROM documents), "
            "pack AS ("
            "SELECT grp, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin, n_tokens AS acc "
            "FROM base WHERE rn = 1 "
            "UNION ALL "
            "SELECT b.grp, b.doc_id, b.n_tokens, b.rn, "
            "CASE WHEN p.acc > 0 AND p.acc + b.n_tokens > 512 THEN p.bin + 1 ELSE p.bin END, "
            "CASE WHEN p.acc > 0 AND p.acc + b.n_tokens > 512 THEN b.n_tokens ELSE p.acc + b.n_tokens END "
            "FROM base b JOIN pack p ON b.grp = p.grp AND b.rn = p.rn + 1) "
            "SELECT grp, doc_id, n_tokens, bin FROM pack"
        ),
        "q_length_percentiles": (
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(min(length(text)) AS INT) AS min_len, "
            "quantile_cont(length(text), 0.5) AS p50, "
            "quantile_cont(length(text), 0.9) AS p90, "
            "quantile_cont(length(text), 0.99) AS p99, "
            "CAST(max(length(text)) AS INT) AS max_len "
            "FROM documents GROUP BY lang"
        ),
        "q_lang_host_cube": (
            "SELECT lang, host, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(SUM(length(text)) AS BIGINT) AS sum_chars FROM ("
            "SELECT lang, ('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS host, "
            "text FROM documents) "
            "GROUP BY CUBE(lang, host)"
        ),
        "q_token_ids": _token_ids_oracle_sql(attn=False),
        "q_token_ids_attn": _token_ids_oracle_sql(attn=True),
        "q_sentinel_truncate": (
            "SELECT doc_id, CASE WHEN strpos(text, '. ') > 0 "
            "THEN substr(text, 1, strpos(text, '. ') - 1) ELSE '' END AS prefix "
            "FROM documents"
        ),
        "q_join3": (
            "SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, "
            "CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) "
            "AS BIGINT) AS rev_cents "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2"
        ),
        "q_join_anti": (
            "SELECT c_custkey, c_mktsegment, n_name AS nation, r_name AS region "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE NOT EXISTS (SELECT 1 FROM orders "
            "WHERE o_custkey = c_custkey AND o_totalprice > 300000)"
        ),
        "q_join_semi": (
            "SELECT s_suppkey, s_name FROM supplier WHERE EXISTS ("
            "SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey "
            "AND l_shipdate >= TIMESTAMP '1995-06-01')"
        ),
        "q_topk_parts": (
            "WITH a AS (SELECT p_brand, p_partkey, "
            "CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) "
            "AS BIGINT) AS rev_cents "
            "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2) "
            "SELECT p_brand, p_partkey, rev_cents, rn FROM ("
            "SELECT *, CAST(row_number() OVER (PARTITION BY p_brand "
            "ORDER BY rev_cents DESC, p_partkey) AS INT) AS rn FROM a) WHERE rn <= 3"
        ),
        "q_lang_host_rollup": (
            f"SELECT lang, host, CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(SUM(chars) AS BIGINT) AS sum_chars FROM ("
            f"SELECT lang, ('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS host, "
            f"length({GOLDEN}) AS chars FROM documents) "
            "GROUP BY ROLLUP(lang, host)"
        ),
        "q_registrable_domain": _registrable_domain_oracle_sql(),
        "q_url_normalize": (
            "SELECT doc_id, "
            "(CASE doc_id % 3 "
            "WHEN 0 THEN 'http://user@h' || CAST(doc_id % 7 AS VARCHAR) || "
            "'.example.com/Post/' || CAST(doc_id AS VARCHAR) || '/Comments?x=1' "
            "WHEN 1 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' "
            "ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/doc/' "
            "|| CAST(doc_id AS VARCHAR) END) AS url_norm, "
            "('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS url_host, "
            "(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 0 ELSE 2 END) AS url_depth, "
            "'com' AS url_tld FROM documents"
        ),
        "q_importance_weights": _importance_oracle_sql(),
        "q_lm_perplexity": _lm_perplexity_oracle_sql(),
        "q_c4_clean": (
            "WITH page AS (SELECT doc_id, "
            "('An introductory line with six words.' || chr(10) || "
            "substr(text, 1, 40) || chr(10) || "
            "'The second real sentence has seven words!' || chr(10) || 'short line.' || "
            "(CASE WHEN doc_id % 5 <> 0 THEN chr(10) || 'A third proper sentence ends right here?' ELSE '' END) || "
            "(CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum' ELSE '' END) || "
            "(CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'code { x }' ELSE '' END)"
            ") AS t FROM documents), "
            "ln AS (SELECT doc_id, t, list_transform(string_split(t, chr(10)), x -> trim(x)) AS lines FROM page), "
            "k AS (SELECT doc_id, t, lines, list_filter(lines, x -> "
            "(ends_with(x, '.') OR ends_with(x, '!') OR ends_with(x, '?') OR ends_with(x, '\"')) "
            f"AND len(regexp_split_to_array(x, {WS_SPLIT_SQL})) >= 5) AS kept FROM ln) "
            "SELECT doc_id, list_aggregate(kept, 'string_agg', chr(10)) AS text, "
            "CAST(len(lines) AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_kept, "
            "(len(kept) >= 3 AND lower(t) NOT LIKE '%lorem ipsum%' AND lower(t) NOT LIKE '%{%') AS keep "
            "FROM k"
        ),
        "q_dup_spans": (
            "WITH toksrc AS (SELECT doc_id, list_transform(regexp_split_to_array("
            f"trim(text), {WS_SPLIT_SQL}), w -> lower(w)) AS t FROM documents), "
            "pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i "
            "FROM toksrc WHERE len(t) >= 3), "
            "g AS (SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS g FROM pos), "
            "cnt AS (SELECT g, count(*) AS c FROM g GROUP BY g), "
            "d AS (SELECT doc_id, i, (c > 1) AS dup FROM g JOIN cnt USING (g)), "
            "dd AS (SELECT doc_id, i, i - row_number() OVER "
            "(PARTITION BY doc_id ORDER BY i) AS grp FROM d WHERE dup), "
            "sp AS (SELECT doc_id, count(DISTINCT grp) AS ns FROM dd GROUP BY doc_id), "
            "agg AS (SELECT doc_id, count(*) AS ng, "
            "sum(CASE WHEN dup THEN 1 ELSE 0 END) AS nd FROM d GROUP BY doc_id) "
            "SELECT x.doc_id, CAST(coalesce(ng, 0) AS BIGINT) AS n_grams, "
            "CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_grams, "
            "CAST(coalesce(ns, 0) AS BIGINT) AS n_dup_spans "
            "FROM (SELECT doc_id FROM documents) x "
            "LEFT JOIN agg USING (doc_id) LEFT JOIN sp USING (doc_id)"
        ),
        "q_anchor_index": (
            "WITH h(href, anchor) AS (VALUES ('/', 'Home'), ('/products', 'Products'), "
            "('/pricing', 'Pricing'), ('/about', 'About us'), ('/contact', 'Contact'), "
            "('/r/1', 'Related one'), ('/r/2', 'Related two'), ('/r/3', 'Related three'), "
            "('/terms', 'Terms'), ('/privacy', 'Privacy')) "
            "SELECT ('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' || h.href) "
            "AS resolved, h.anchor AS anchor, CAST(count(*) AS BIGINT) AS n_refs, "
            "CAST(1 AS BIGINT) AS n_src_hosts "
            "FROM documents CROSS JOIN h GROUP BY doc_id % 7, h.href, h.anchor"
        ),
        "q_dup_span_removal": (
            "WITH toksrc AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) "
            "ELSE list_transform(regexp_split_to_array(trim(text), "
            f"{WS_SPLIT_SQL}), w -> lower(w)) END AS t FROM documents), "
            "pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i "
            "FROM toksrc WHERE len(t) >= 3), "
            "g AS (SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS g FROM pos), "
            "r AS (SELECT doc_id, i, row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn FROM g), "
            "cov AS (SELECT DISTINCT doc_id, i + o.o AS tpos FROM r "
            "CROSS JOIN (VALUES (0), (1), (2)) o(o) WHERE rn > 1), "
            "tp AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS tpos, t "
            "FROM toksrc WHERE len(t) >= 1), "
            "tk AS (SELECT doc_id, tpos, t[tpos] AS tok FROM tp), "
            "kept AS (SELECT tk.doc_id, tk.tpos, tk.tok FROM tk WHERE NOT EXISTS "
            "(SELECT 1 FROM cov WHERE cov.doc_id = tk.doc_id AND cov.tpos = tk.tpos)), "
            "reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS text, "
            "count(*) AS n_kept FROM kept GROUP BY doc_id), "
            "tot AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE "
            f"len(regexp_split_to_array(trim(text), {WS_SPLIT_SQL})) END AS n_tokens FROM documents) "
            "SELECT tot.doc_id, coalesce(reb.text, '') AS text, "
            "CAST(n_tokens AS INT) AS n_tokens, "
            "CAST(n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_removed "
            "FROM tot LEFT JOIN reb USING (doc_id)"
        ),
        "q_extract_links": (
            "WITH h(href) AS (VALUES ('/'),('/products'),('/pricing'),('/about'),('/contact'),('/r/1'),('/r/2'),('/r/3'),('/terms'),('/privacy')) "
            f"SELECT {URL} AS url, h.href AS href, "
            "('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' || h.href) "
            "AS resolved FROM documents CROSS JOIN h"
        ),
        "q_base_href": _base_href_oracle_sql(),
        "q_nofollow_links": _nofollow_links_oracle_sql(),
        "q_canonical_refresh": _canonical_refresh_oracle_sql(),
        "q_hreflang": _hreflang_oracle_sql(),
        "q_pagination": _pagination_oracle_sql(),
        "q_url_templates": _url_templates_oracle_sql(),
        "q_template_cluster": _template_cluster_oracle_sql(),
        "q_template_boilerplate": _template_boilerplate_oracle_sql(),
        "q_feed_links": _feed_links_oracle_sql(),
        "q_bitext_pairs": _bitext_pairs_oracle_sql(),
        "q_image_captions": _image_captions_oracle_sql(),
        "q_image_context": _image_context_oracle_sql(),
        "q_interleaved": _interleaved_oracle_sql(),
        "q_srcset": _srcset_oracle_sql(),
        "q_code_blocks": _code_blocks_oracle_sql(),
        "q_math_spans": _math_spans_oracle_sql(),
        "q_media_sources": _media_sources_oracle_sql(),
        "q_link_graph": (
            "SELECT ('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS src_host, "
            "('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS dst_host, "
            "CAST(10 * count(*) AS BIGINT) AS n_links FROM documents GROUP BY doc_id % 7"
        ),
        "q_pagerank_hosts_exact": pagerank_int_oracle_sql(
            "SELECT ('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS src_host, "
            "('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS dst_host, "
            "CAST(10 * count(*) AS BIGINT) AS n_links FROM documents GROUP BY doc_id % 7 "
            "UNION ALL "
            "SELECT 'h' || CAST(k AS VARCHAR) || '.example.com', "
            "'h' || CAST((k + 1) % 7 AS VARCHAR) || '.example.com', n FROM "
            "(SELECT doc_id % 7 AS k, CAST(count(*) AS BIGINT) AS n "
            "FROM documents GROUP BY doc_id % 7)",
            iterations=6,
        ),
        "q_trustrank": trustrank_int_oracle_sql(
            "SELECT ('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS src_host, "
            "('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS dst_host, "
            "CAST(10 * count(*) AS BIGINT) AS n_links FROM documents GROUP BY doc_id % 7 "
            "UNION ALL "
            "SELECT 'h' || CAST(k AS VARCHAR) || '.example.com', "
            "'h' || CAST((k + 1) % 7 AS VARCHAR) || '.example.com', n FROM "
            "(SELECT doc_id % 7 AS k, CAST(count(*) AS BIGINT) AS n "
            "FROM documents GROUP BY doc_id % 7)",
            _TRUST_SEEDS,
            iterations=6,
        ),
        "q_redirect_chains": redirect_oracle_sql(redirect_edges_sql, rounds=3),
        "q_url_dedup": (
            "SELECT (CASE doc_id % 3 "
            "WHEN 0 THEN 'http://user@h' || CAST(doc_id % 7 AS VARCHAR) || "
            "'.example.com/Post/' || CAST(doc_id AS VARCHAR) || '/Comments?x=1' "
            "WHEN 1 THEN 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/item/' "
            "|| CAST(doc_id AS VARCHAR) "
            "ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/doc/' "
            "|| CAST(doc_id AS VARCHAR) END) AS url_norm, "
            "CAST(2 AS BIGINT) AS n_surfaces, doc_id * 2 AS keep_id FROM documents"
        ),
        "q_media_frames": (
            "WITH v AS (SELECT doc_id, 2 * length(text) + 1 AS plen, "
            "1 + doc_id % 7 AS nf FROM documents WHERE doc_id % 3 = 2), "
            "s AS (SELECT doc_id, plen, greatest(plen // nf, 1) AS step, nf FROM v) "
            "SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx, "
            # python slice semantics: trailing frames may run past the payload
            "CAST(least(step, greatest(plen - i * step, 0)) AS INT) AS n_bytes "
            "FROM s, unnest(generate_series(0, nf - 1, 2)) AS t(i)"
        ),
        "q_sessions": (
            "WITH x AS (SELECT user_id, ts, value, "
            "CASE WHEN lag(ts) OVER w IS NULL "
            "OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "y AS (SELECT user_id, ts, value, CAST(SUM(ns) OVER "
            "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) "
            "AS session_id FROM x) "
            "SELECT user_id, session_id, MIN(ts) AS session_start, "
            "MAX(ts) AS session_end, CAST(COUNT(*) AS BIGINT) AS n_events, "
            "CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
            "FROM y GROUP BY user_id, session_id"
        ),
        "q_user_rollup": (
            "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, "
            "CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
            "FROM events GROUP BY user_id"
        ),
        # Hash-based dedup: the oracle recomputes the exact xxhash64
        # MinHash/LSH/SimHash pipeline in pure DuckDB SQL — Spark's XXH64
        # ported as HUGEINT macro arithmetic (webx/oracles.py; the port is
        # tested against the JVM via webx/xxh64.py + tests/test_xxh64.py).
        "q_dedup_minhash": _oracles.minhash_oracle_sql(threshold=0.6),
        "q_dedup_simhash": _oracles.simhash_oracle_sql(max_hamming=3),
        # ANN: the oracle regenerates the same hyperplane literals /
        # anchor centroids and mirrors the left-associative double
        # arithmetic, so buckets, probes, and cosine ranks agree exactly.
        "q_ann_lsh": _oracles.ann_lsh_oracle_sql(
            planes=_hyperplanes(_oracles.EMB_DIM, 6, 42), k=5
        ),
        "q_ann_ivf": _oracles.ann_ivf_oracle_sql(n_centroids=16, n_probe=4, k=5),
        "q_pq_codes": _oracles.pq_codes_oracle_sql(m=4, ksub=8),
        "q_rendezvous": _oracles.rendezvous_oracle_sql(n_a=8, n_b=9),
        "q_cdc_chunks": _oracles.cdc_chunks_oracle_sql(_CDC_CORPUS_SQL, nbits=6),
        "q_cdc_dedup": _oracles.cdc_dedup_oracle_sql(_CDC_CORPUS_SQL, nbits=6),
        "q_pq_adc": _oracles.pq_adc_oracle_sql(m=4, ksub=8, k=5, n_queries=4),
        # PII: the oracle applies the IDENTICAL pattern strings (generated
        # from webx.pii.PII_PATTERNS — no drift possible) via RE2; the
        # patterns are written in the shared Java-regex/RE2 subset.
        "q_pii_redact": _pii_oracle_sql(),
        "q_script_profile": _script_oracle_sql(),
        "q_latest_capture": (
            f"SELECT {URL} AS url, "
            "1704067200 + doc_id + (doc_id % 3) * 10000 AS ts_epoch, "
            "('v' || CAST(doc_id % 3 AS VARCHAR) || ' ' || text) AS text "
            "FROM documents"
        ),
        "q_snapshot_diff": (
            f"SELECT {URL} AS url, "
            "CASE doc_id % 5 WHEN 0 THEN 'deleted' WHEN 1 THEN 'changed' "
            "ELSE 'unchanged' END AS status FROM documents "
            "UNION ALL "
            f"SELECT ({URL} || '/new') AS url, 'added' AS status "
            "FROM documents WHERE doc_id % 10 = 7"
        ),
        "q_blocklist": (
            "SELECT doc_id, ('h' || CAST(doc_id % 7 AS VARCHAR) || "
            "'.example.com') AS url_host FROM documents "
            "WHERE doc_id % 7 NOT IN (0, 3, 5)"
        ),
        # the flagship golden applied to the SECOND snapshot: base urls
        # (deleted dropped, %5==1 edited) + /new republications
        "q_extract_incremental": (
            "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 1 "
            "THEN text || ' v2' ELSE text END AS text "
            "FROM documents WHERE doc_id % 5 <> 0), "
            "a AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7) "
            f"SELECT {URL} AS url, {GOLDEN} AS text FROM d "
            "UNION ALL "
            f"SELECT ({URL} || '/new') AS url, {GOLDEN} AS text FROM a"
        ),
        "q_robots_meta": (
            "SELECT doc_id, "
            "CAST(doc_id % 6 IN (0, 1, 2) AS INT) AS has_robots_meta, "
            "CAST(doc_id % 6 = 0 AS INT) AS robots_noindex, "
            "CAST(doc_id % 6 IN (0, 1) AS INT) AS robots_nofollow "
            "FROM documents"
        ),
        "q_page_meta": (
            f"SELECT {URL} AS url, ('Doc ' || CAST(doc_id AS VARCHAR)) AS page_title, "
            "CASE WHEN doc_id % 2 = 0 THEN 'utf-8' ELSE 'iso-8859-1' END "
            "AS charset_decl FROM documents"
        ),
        "q_structured_meta": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 4 IN (0, 1) THEN 'Doc ' || CAST(doc_id AS VARCHAR) "
            "ELSE '' END AS og_title, "
            "CASE WHEN doc_id % 4 = 0 THEN 'article' ELSE '' END AS og_type, "
            "CASE doc_id % 4 WHEN 0 THEN 'Article' WHEN 2 THEN 'NewsArticle' "
            "ELSE '' END AS jsonld_type, "
            "CASE WHEN doc_id % 4 IN (0, 2) THEN 'Doc ' || CAST(doc_id AS VARCHAR) "
            "ELSE '' END AS jsonld_headline, "
            "CASE WHEN doc_id % 4 = 0 THEN 'Author ' || CAST(doc_id % 5 AS VARCHAR) "
            "ELSE '' END AS jsonld_author "
            "FROM documents"
        ),
        "q_headings": (
            "SELECT doc_id, 0 AS pos, 1 AS level, "
            "'Doc ' || CAST(doc_id AS VARCHAR) AS heading FROM documents "
            "UNION ALL "
            "SELECT doc_id, CAST(k AS INT) AS pos, 2 AS level, "
            "'Part ' || CAST(k AS VARCHAR) AS heading "
            "FROM (SELECT doc_id, unnest(generate_series(1, doc_id % 3 + 1)) AS k "
            "FROM documents)"
        ),
        "q_html_tables": (
            "SELECT doc_id, 0 AS row_idx, c AS col_idx, 1 AS is_header, "
            "CASE c WHEN 0 THEN 'key' ELSE 'value' END AS cell "
            "FROM documents, (VALUES (0), (1)) AS v(c) "
            "UNION ALL "
            "SELECT doc_id, CAST(r AS INT) AS row_idx, c AS col_idx, 0 AS is_header, "
            "CASE c WHEN 0 THEN 'r' || CAST(r AS VARCHAR) "
            "ELSE CAST(doc_id * 10 + r AS VARCHAR) END AS cell "
            "FROM (SELECT doc_id, unnest(generate_series(1, doc_id % 3 + 1)) AS r "
            "FROM documents), (VALUES (0), (1)) AS v(c)"
        ),
        "q_feed_entries": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 2 = 0 THEN 'atom' ELSE 'rss' END AS source_format, "
            "CAST(j - 1 AS INT) AS entry_idx, "
            "('Doc ' || CAST(doc_id AS VARCHAR) || ' entry ' || CAST(j AS VARCHAR)) "
            "AS title, "
            "('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/doc/' || "
            "CAST(doc_id AS VARCHAR) || '/e/' || CAST(j AS VARCHAR)) AS link, "
            "CAST(1704067200 + doc_id * 60 + j * 10 AS BIGINT) AS pub_epoch "
            "FROM (SELECT doc_id, unnest(generate_series(1, doc_id % 3 + 1)) AS j "
            "FROM documents)"
        ),
        "q_sitemap_index": _sitemap_index_oracle_sql(),
        "q_sitemap": (
            "SELECT doc_id, CAST(u - 1 AS INT) AS url_idx, "
            "('https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || "
            "CAST(doc_id AS VARCHAR) || '/' || CAST(u AS VARCHAR)) AS loc, "
            "CASE WHEN (doc_id + u) % 3 <> 0 THEN "
            "strftime(DATE '2024-01-01' + CAST((doc_id + u) % 28 AS INT), '%Y-%m-%d') "
            "ELSE '' END AS lastmod, "
            "CASE (doc_id + u) % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly' "
            "ELSE 'monthly' END AS changefreq, "
            "CASE WHEN u % 2 = 1 THEN ((doc_id + u) % 10) / 10.0 END AS priority "
            "FROM (SELECT doc_id, unnest(generate_series(1, doc_id % 3 + 1)) AS u "
            "FROM documents)"
        ),
        # chr(233)=U+00E9 é, chr(239)=U+00EF ï — the precomposed NFC forms
        # both the decomposed (%3==1) and precomposed (%3==2) tails land on
        "q_nfc_normalize": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 3 = 0 THEN text "
            "ELSE text || ' caf' || chr(233) || ' na' || chr(239) || 've' "
            "END AS text_nfc, "
            "CAST(doc_id % 3 = 1 AS INT) AS nfc_changed "
            "FROM documents"
        ),
        # expected rule rows enumerated from _ROBOTS_FIXTURE: h3's empty
        # Disallow is dropped (matches nothing per RFC 9309), h5's inline
        # comment is stripped, h1's two UA lines share one group
        "q_robots_rules": (
            "SELECT host, CAST(group_id AS BIGINT) AS group_id, agent, "
            "rule, value FROM (VALUES "
            "('h0.example.com', 1, '*', 'disallow', '/private/'), "
            "('h0.example.com', 1, '*', 'crawl-delay', '2'), "
            "('h1.example.com', 1, 'webxbot', 'disallow', '/doc/'), "
            "('h1.example.com', 1, 'otherbot', 'disallow', '/doc/'), "
            "('h1.example.com', 2, '*', 'disallow', '/'), "
            "('h2.example.com', 1, '*', 'disallow', '/doc/*7$'), "
            "('h4.example.com', 1, '*', 'disallow', '/doc'), "
            "('h4.example.com', 1, '*', 'allow', '/doc/1'), "
            "('h5.example.com', 1, '*', 'disallow', '/doc/2'), "
            "('h5.example.com', 1, '*', 'allow', '/doc/2')"
            ") AS t(host, group_id, agent, rule, value)"
        ),
        # closed-form verdicts per host residue: h1 blocks /doc/ for
        # webxbot's own group; h2 blocks ids ending in 7 (/doc/*7$);
        # h4 longest-match allows ids starting with 1; h5's equal-length
        # tie resolves to allow; h0/h3/h6 never match a rule
        "q_robots_gate": (
            "SELECT doc_id, "
            "CAST(CASE doc_id % 7 "
            "WHEN 1 THEN 0 "
            "WHEN 2 THEN CASE WHEN CAST(doc_id AS VARCHAR) LIKE '%7' "
            "THEN 0 ELSE 1 END "
            "WHEN 4 THEN CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%' "
            "THEN 1 ELSE 0 END "
            "ELSE 1 END AS INT) AS allowed, "
            "CASE doc_id % 7 "
            "WHEN 1 THEN '/doc/' "
            "WHEN 2 THEN CASE WHEN CAST(doc_id AS VARCHAR) LIKE '%7' "
            "THEN '/doc/*7$' END "
            "WHEN 4 THEN CASE WHEN CAST(doc_id AS VARCHAR) LIKE '1%' "
            "THEN '/doc/1' ELSE '/doc' END "
            "WHEN 5 THEN CASE WHEN CAST(doc_id AS VARCHAR) LIKE '2%' "
            "THEN '/doc/2' END "
            "ELSE NULL END AS matched_rule "
            "FROM documents"
        ),
        # survivors: 200 + text/html only; doc_id%4==0 rows surface the
        # day-later second capture (digest 'b' suffix, offset +7)
        "q_cdx_latest": (
            "SELECT 'https://h' || (doc_id % 7) || '.example.com/doc/' "
            "|| doc_id AS url, "
            "1704067200 + doc_id + CASE WHEN doc_id % 4 = 0 THEN 86400 "
            "ELSE 0 END AS capture_epoch, "
            "'D' || doc_id || CASE WHEN doc_id % 4 = 0 THEN 'b' ELSE '' END "
            "AS digest, "
            "'crawl-00' || (doc_id % 3) || '.warc.gz' AS warc_filename, "
            "doc_id * 1000 + CASE WHEN doc_id % 4 = 0 THEN 7 ELSE 0 END "
            "AS warc_offset, "
            "500 + doc_id % 100 AS warc_length "
            "FROM documents WHERE doc_id % 9 != 4 AND doc_id % 5 != 3"
        ),
        # re-derives the marker-insertion + split segmentation: \1||chr(30)
        # keeps the punctuation run, split on the U+001E marker, enumerate
        # BEFORE dropping empties so indices match Spark's posexplode
        "q_sentences": (
            "WITH m AS (SELECT doc_id, regexp_replace("
            "'Intro alpha. ' || text || '! Closing query? tail bit', "
            "'([.!?]+)[ \\t\\r\\n]+', '\\1' || chr(30), 'g') AS mt "
            "FROM documents), "
            "a AS (SELECT doc_id, string_split(mt, chr(30)) AS arr FROM m), "
            "e AS (SELECT doc_id, unnest(arr) AS s, "
            "unnest(generate_series(1, len(arr))) AS i FROM a) "
            "SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx, trim(s) AS "
            "sentence FROM e WHERE trim(s) != ''"
        ),
        # identical IEEE double op order as the Spark expression, then floor
        "q_readability": (
            "WITH s AS (SELECT doc_id, text || '. Second bit!' AS t "
            "FROM documents), "
            "c AS (SELECT doc_id, "
            f"len(regexp_split_to_array(trim(t), {WS_SPLIT_SQL})) AS w, "
            "greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS sn, "
            "len(regexp_extract_all(t, '[aeiouyAEIOUY]+')) AS y FROM s) "
            "SELECT doc_id, CAST(w AS INT) AS n_words, "
            "CAST(sn AS INT) AS n_sentences, CAST(y AS INT) AS n_syllables, "
            "CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / "
            "CAST(sn AS DOUBLE)) - 84.6 * (CAST(y AS DOUBLE) / "
            "CAST(w AS DOUBLE))) * 100) AS BIGINT) AS fk_ease_x100 FROM c"
        ),
        "q_soft404": (
            "WITH s AS (SELECT doc_id, "
            "CASE WHEN doc_id % 5 = 0 THEN "
            "'Error 404 page not found on this server.' "
            "WHEN doc_id % 5 = 1 THEN text || ' sorry page not found' "
            "ELSE text END AS t FROM documents) "
            "SELECT doc_id, "
            "CAST(regexp_matches(t, '(?i)(page not found|not be found|"
            "does not exist|no longer available|error 404|404 error)') "
            "AS INT) AS err_phrase, "
            "CAST(regexp_matches(t, '(?i)(page not found|not be found|"
            "does not exist|no longer available|error 404|404 error)') "
            f"AND len(regexp_split_to_array(trim(t), {WS_SPLIT_SQL})) < 50 "
            "AS INT) AS soft404 FROM s"
        ),
        "q_quality_model": _quality_model_oracle_sql(),
        "q_auc": _auc_oracle_sql(),
        # funnel replay: capture survivors (q_cdx_latest residues) ∩
        # robots-allowed (q_robots_gate verdicts), then the same
        # per-host ROW_NUMBER politeness window (h0 delay 2s, else 1s)
        "q_frontier_schedule": (
            "WITH surv AS (SELECT doc_id, "
            "'https://h' || (doc_id % 7) || '.example.com/doc/' || doc_id "
            "AS url, doc_id % 7 AS hid FROM documents "
            "WHERE doc_id % 9 != 4 AND doc_id % 5 != 3 "
            "AND doc_id % 7 != 1 "
            "AND NOT (doc_id % 7 = 2 AND CAST(doc_id AS VARCHAR) LIKE '%7') "
            "AND NOT (doc_id % 7 = 4 AND CAST(doc_id AS VARCHAR) "
            "NOT LIKE '1%')), "
            "s AS (SELECT url, hid, ROW_NUMBER() OVER "
            "(PARTITION BY hid ORDER BY url) - 1 AS slot FROM surv) "
            "SELECT url, CAST(slot AS INT) AS fetch_slot, "
            "CAST(1704067200.0 + slot * (CASE WHEN hid = 0 THEN 2.0 ELSE 1.0 "
            "END) AS DOUBLE) AS fetch_at FROM s"
        ),
        "q_host_boilerplate": (
            "WITH base AS (SELECT doc_id, "
            "('h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com') AS host, "
            "string_split(text || chr(10) || 'Subscribe to the h' || "
            "CAST(doc_id % 7 AS VARCHAR) || ' newsletter', chr(10)) AS ps "
            "FROM documents), "
            "parts AS (SELECT doc_id, host, unnest(ps) AS para, "
            "unnest(generate_series(1, len(ps))) AS pos FROM base), "
            "boiler AS (SELECT host, para FROM (SELECT host, para, "
            "count(DISTINCT doc_id) AS nd FROM parts WHERE length(para) >= 1 "
            "GROUP BY host, para) WHERE nd >= 5), "
            "kept AS (SELECT p.doc_id, p.pos, p.para FROM parts p "
            "LEFT JOIN boiler b ON p.host = b.host AND p.para = b.para "
            "WHERE b.para IS NULL), "
            "rebuilt AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) "
            "AS text, count(*) AS n_kept FROM kept GROUP BY doc_id), "
            "totals AS (SELECT doc_id, host, count(*) AS n_paragraphs "
            "FROM parts GROUP BY doc_id, host) "
            "SELECT t.doc_id, t.host, coalesce(r.text, '') AS text, "
            "CAST(t.n_paragraphs AS BIGINT) AS n_paragraphs, "
            "CAST(t.n_paragraphs - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed "
            "FROM totals t LEFT JOIN rebuilt r USING (doc_id)"
        ),
        # closed-form in the planted structure: tokens after script-strip
        # = html,head,/head,body,br + n (div,/div) pairs + p,/p,/body,/html
        "q_dom_depth": (
            "SELECT doc_id, "
            "CAST(9 + 2 * (doc_id % 4) AS INT) AS n_tag_tokens, "
            "CAST(3 + doc_id % 4 AS INT) AS max_depth, "
            "CAST(4 + doc_id % 4 AS INT) AS n_open_tags "
            "FROM documents"
        ),
        "q_asof_join": _asof_oracle_sql(),
        "q_range_join": _range_join_oracle_sql(),
        "q_cms_heavy": _cms_oracle_sql(),
        "q_quality_terciles": _quality_terciles_oracle_sql(),
        "q_dedup_against": _dedup_against_oracle_sql(),
        "q_sliding_window": _sliding_window_oracle_sql(),
        "q_scd2": _scd2_oracle_sql(),
        "q_funnel": _funnel_oracle_sql(),
        "q_rolling_avg": _rolling_avg_oracle_sql(),
        "q_cms_join_size": _cms_join_size_oracle_sql(),
        "q_salted_join": _salted_join_oracle_sql(),
        "q_zorder": _zorder_oracle_sql(),
        "q_hilbert": _hilbert_oracle_sql(),
        "q_zonemap_prune": _zonemap_prune_oracle_sql(),
        "q_suffix_dups": _suffix_dups_oracle_sql(),
        "q_passage_decontaminate": _passage_decontaminate_oracle_sql(),
        "q_dup_profile": _dup_profile_oracle_sql(),
        "q_crawl_depth": _crawl_depth_oracle_sql(),
        "q_bm25": _bm25_oracle_sql(),
        "q_hll_registers": _hll_oracle_sql(),
        "q_weighted_sample": _weighted_sample_oracle_sql(),
        "q_group_sample": _group_sample_oracle_sql(),
        "q_corpus_shard": _corpus_shard_oracle_sql(),
        "q_kmv_set_ops": _kmv_set_ops_oracle_sql(),
        "q_hll_union": _hll_union_oracle_sql(),
        "q_unimax": _unimax_oracle_sql(),
        "q_bitext_margin": _bitext_margin_oracle_sql(),
        "q_winnow": _winnow_oracle_sql(),
        "q_winnow_matches": _winnow_matches_oracle_sql(),
        "q_mojibake": _mojibake_oracle_sql(),
        "q_kmeans": _kmeans_oracle_sql(),
        "q_pivot": _pivot_oracle_sql(),
        "q_unpivot": _unpivot_oracle_sql(),
        "q_value_histogram": _value_histogram_oracle_sql(),
        "q_length_outliers": _length_outliers_oracle_sql(),
        "q_triangles": _triangles_oracle_sql(),
        "q_hits": _hits_oracle_sql(),
        "q_containment": _containment_oracle_sql(),
        "q_topk_partial": _topk_partial_oracle_sql(),
        "q_cogroup_stats": _cogroup_stats_oracle_sql(),
        "q_skew_report": _skew_report_oracle_sql(),
        "q_bloom_join": _bloom_join_oracle_sql(),
        "q_blocklist_gate": _blocklist_gate_oracle_sql(),
        "q_changed_captures": _changed_captures_oracle_sql(),
        "q_recrawl_schedule": (
            "WITH x AS (SELECT doc_id, CAST(FLOOR(7 / (1 + doc_id % 4)) AS BIGINT) AS n_changes FROM documents) "
            "SELECT doc_id, n_changes, "
            "ROUND(-LN((7 - n_changes + 0.5) / 7.5), 6) AS change_rate, "
            "ROUND(1.0 / (-LN((7 - n_changes + 0.5) / 7.5)), 6) AS recrawl_days "
            "FROM x"
        ),
        "q_budget_allocation": _budget_allocation_oracle_sql(),
        "q_keep_best": _keep_best_oracle_sql(),
        "q_curate_pipeline": _curate_pipeline_oracle_sql(),
        "q_json_extract": _json_extract_oracle_sql(),
        "q_url_params": _url_params_oracle_sql(),
        "q_delete_propagation": _delete_propagation_oracle_sql(),
        "q_strip_accents": _strip_accents_oracle_sql(),
        "q_vocab_novelty": _vocab_novelty_oracle_sql(),
        "q_multi_match": _multi_match_oracle_sql(),
        "q_multi_match_aho": _multi_match_oracle_sql(),
        "q_correlation": _correlation_oracle_sql(),
        "q_event_sequence": _event_sequence_oracle_sql(),
        "q_percentile_rank": _percentile_rank_oracle_sql(),
        "q_embedding_decontaminate": _embedding_decontaminate_oracle_sql(),
        "q_confusion_matrix": _confusion_matrix_oracle_sql(),
        "q_forward_fill": _forward_fill_oracle_sql(),
        "q_day_over_day": _day_over_day_oracle_sql(),
        "q_retention_cohorts": _retention_cohorts_oracle_sql(),
        "q_host_gini": _host_gini_oracle_sql(),
        "q_sql_analytics": _sql_analytics_oracle_sql(),
        "q_pii_audit": _pii_audit_oracle_sql(),
        "q_simpson_diversity": _simpson_oracle_sql(),
        "q_event_transitions": _event_transitions_oracle_sql(),
        "q_k_anonymity": _k_anonymity_oracle_sql(),
    }
