"""Comment separation — main text vs user-comment text, per document.

The flagship extractor KEEPS user comments inline (reviewed policy,
fixtures 43/49: genuine human text is corpus content). But corpus
builders want the knob: comments are a different register, often a
different quality band, and common pipelines (trafilatura's
``comments`` output field) surface them separately so downstream
filtering can include, exclude, or reweight them. This lane does the
same split WITHOUT changing the flagship contract:

* comment REGIONS are byte ranges of container elements
  (div/section/ol/ul/aside/article) whose ``class``/``id`` tokens hit
  the comment vocabulary (``comment(s)``, ``review(s)``,
  ``discussion``, ``replies``, ``responses``) — the same sequential
  attribute parse as the boilerplate hints (webx/tokenize.py
  class_hint_boiler: value-trap-proof, no regex over attr soup),
  with DEPTH TRACKING on the container tag so nested same-name
  elements (a comments section full of ``<div class="comment">``)
  close at the matching tag, not the first one; comment/CDATA and
  script/style/textarea islands hide opens, closes and depth changes
  (lexer precedence).
* the batch goes through the flagship's own front and batch stage 1
  (webx/extract.py ``_doc_front`` per page, then one ``_stage1`` call
  with the stage-2 fast path: normalized, truncated bytes, the
  EFFECTIVE codec, the same spans and texts). Each surviving span is
  then PARTITIONED against the regions by byte intersection: a part is
  a ``Span`` with its parent's score and kind; a span no region cuts is
  its own one part and keeps the text stage 1 gave it, and all other
  parts of the batch decode in one flagship ``_decode_spans`` call —
  rawkept literal text, ``<pre>``/``<listing>`` whitespace
  preservation, NFC, all of it. Outside parts join into ``text``,
  inside parts into ``comment_text``. A span straddling a region
  boundary contributes to both, split at the boundary — span
  granularity never leaks chrome into either stream.

FROZEN: nested comment regions coalesce into the outermost range;
unclosed containers run to EOF; self-closed opens create no region.
On a span that does NOT straddle a comment region the one part IS the
span, so on a page without comment regions ``text`` equals the
flagship text.

Scale shape: same narrow plan as run_extraction — pruned (url, html)
scan, one Arrow mapInPandas, no shuffle; the region scan runs only on
documents whose bytes probe positive for the vocabulary.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, List, Optional, Tuple

import pandas as pd

from webx.config import ExtractConfig
from webx.detect import Span
from webx.extract import _decode_spans, _stage1, lane_columns, lane_fronts

COMMENT_TOKENS = frozenset(
    b"comment comments review reviews discussion replies responses".split()
)
# The okMaybeItsACandidate override, same as the boilerplate hints
# (webx/tokenize.py POS_CLASS_TOKENS): an EDITORIAL review is main
# content — class="movie-review article" must not route to comments.
POS_TOKENS = frozenset(
    b"article body column content entry main post story".split()
)

_CONTAINERS = b"div|section|ol|ul|aside|article"
# cheap per-document probe: any vocabulary word at all
_PROBE_RE = re.compile(
    rb"comment|review|discussion|replies|responses", re.I
)
_ISLANDS = (
    rb"<!--.*?(?:--\s*>|\Z)|<!\[CDATA\[.*?\]\]>"
    rb"|<(script|style|textarea|iframe|template)(?:\s[^>]*)?>.*?</\1(?:\s[^>]*)?>"
)
_OPEN_RE = re.compile(
    _ISLANDS
    + rb"|<(" + _CONTAINERS + rb")((?:[\s/](?:[^>\"']|\"[^\"]*\"|'[^']*')*)?)>",
    re.I | re.S,
)

_WS_SET = frozenset(b" \t\r\n\f\v")
_NAME_STOP = frozenset(b" \t\r\n\f\v=/\"'")
_ALNUM = frozenset(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
)


def _hits_comment_vocab(attrs: bytes) -> bool:
    """class/id token test against COMMENT_TOKENS — the sequential
    attribute parse of webx/tokenize.py class_hint_boiler (a
    ``title="class=comment"`` value can never match). Any POS_TOKENS
    member anywhere in class/id wins (editorial reviews stay main
    content), mirroring the boilerplate hints' override."""
    n = len(attrs)
    i = 0
    hit = False
    while i < n:
        if attrs[i] in _NAME_STOP:
            i += 1
            continue
        j = i + 1
        while j < n and attrs[j] not in _NAME_STOP:
            j += 1
        name = attrs[i:j]
        i = j
        while i < n and attrs[i] in _WS_SET:
            i += 1
        val = b""
        if i < n and attrs[i] == 0x3D:  # '='
            i += 1
            while i < n and attrs[i] in _WS_SET:
                i += 1
            if i < n and attrs[i] in (0x22, 0x27):
                q = attrs[i]
                k = attrs.find(q, i + 1)
                if k < 0:
                    val = attrs[i + 1 :]
                    i = n
                else:
                    val = attrs[i + 1 : k]
                    i = k + 1
            else:
                k = i
                while k < n and attrs[k] not in _WS_SET:
                    k += 1
                val = attrs[i:k]
                i = k
        if val and name.lower() in (b"class", b"id"):
            m = len(val)
            k = 0
            while k < m:
                if val[k] in _ALNUM:
                    j2 = k + 1
                    while j2 < m and val[j2] in _ALNUM:
                        j2 += 1
                    tok = val[k:j2].lower()
                    if tok in POS_TOKENS:
                        return False
                    if tok in COMMENT_TOKENS:
                        hit = True
                    k = j2
                else:
                    k += 1
    return hit


def _depth_re(name: bytes) -> "re.Pattern[bytes]":
    return re.compile(
        _ISLANDS
        + rb"|<(/?)(" + name + rb")(?=[\s/>])((?:[\s/](?:[^>\"']|\"[^\"]*\"|'[^']*')*)?)>",
        re.I | re.S,
    )


_DEPTH_RES = {
    n: _depth_re(n)
    for n in (b"div", b"section", b"ol", b"ul", b"aside", b"article")
}


def comment_regions(html: bytes) -> Tuple[Tuple[int, int], ...]:
    """Byte ranges of comment-container CONTENT (open tag end → matching
    close tag start), depth-tracked per container name, island-aware,
    nested regions coalesced into the outermost."""
    if _PROBE_RE.search(html) is None:
        return ()
    out: List[Tuple[int, int]] = []
    pos = 0
    n = len(html)
    while pos < n:
        m = _OPEN_RE.search(html, pos)
        if m is None:
            break
        if m.group(2) is None:  # island
            pos = max(m.end(), pos + 1)
            continue
        name = m.group(2).lower()
        attrs = m.group(3) or b""
        if attrs.rstrip().endswith(b"/"):  # self-closed: no region
            pos = m.end()
            continue
        if not _hits_comment_vocab(attrs):
            pos = m.end()
            continue
        start = m.end()
        depth = 1
        dre = _DEPTH_RES[name]
        cpos = start
        end = n
        while cpos < n:
            e = dre.search(html, cpos)
            if e is None:
                break
            if e.group(3) is None:  # island inside the region
                cpos = max(e.end(), cpos + 1)
                continue
            closing = e.group(2) == b"/"
            a = e.group(4) or b""
            if not closing and a.rstrip().endswith(b"/"):
                cpos = e.end()  # self-closed same-name tag: depth flat
                continue
            depth += -1 if closing else 1
            cpos = e.end()
            if depth == 0:
                end = e.start()
                break
        out.append((start, end))
        pos = end if end > pos else pos + 1
    return tuple(out)


def split_comments_batch(
    pdf: pd.DataFrame, cfg: ExtractConfig, charset_col: "str | None" = None
) -> pd.DataFrame:
    fronts = lane_fronts(pdf, cfg, charset_col)
    spans, texts = _stage1(fronts, cfg, decode=True)
    parts: List[List[Span]] = []
    part_texts: list = []
    insides = []  # per page: (start, end) of a comment part -> its span's index
    for (html, _, _), doc, doc_texts in zip(fronts, spans, texts):
        regions = comment_regions(html)
        ps: List[Span] = []
        ts: list = []
        inside = {}
        for k, (s, t) in enumerate(zip(doc, doc_texts)):
            n0 = len(ps)
            seg = s.start
            for rs, re_ in regions:
                lo = max(rs, s.start)
                hi = min(re_, s.end)
                if hi <= lo:
                    continue
                if lo > seg:
                    ps.append(s._replace(start=seg, end=lo))
                ps.append(s._replace(start=lo, end=hi))
                inside[(lo, hi)] = k
                seg = hi
            if seg == s.start:  # no region cuts it: the span keeps its text
                ps.append(s)
                ts.append(t)
                continue
            if seg < s.end:
                ps.append(s._replace(start=seg, end=s.end))
            ts.extend([None] * (len(ps) - n0))
        parts.append(ps)
        part_texts.append(ts)
        insides.append(inside)
    out = {
        "url": pdf["url"].tolist(), "text": [], "comment_text": [], "n_comment_spans": [],
    }
    for (rows, _, _), inside in zip(_decode_spans(fronts, parts, part_texts, cfg), insides):
        main = [r["text"] for r in rows if (r["start"], r["end"]) not in inside]
        com = [r for r in rows if (r["start"], r["end"]) in inside]
        out["text"].append(cfg.join_sep.join(main))
        out["comment_text"].append(cfg.join_sep.join(r["text"] for r in com))
        out["n_comment_spans"].append(len({inside[r["start"], r["end"]] for r in com}))
    return pd.DataFrame(out)


def split_comments(
    pages, cfg: Optional[ExtractConfig] = None, charset_col: Optional[str] = None
):
    """pages(url, html, …) → (url, text, comment_text, n_comment_spans):
    the flagship extraction with comment-region bytes routed into a
    separate column. Narrow plan: pruned scan → one Arrow mapInPandas.
    ``charset_col`` names a per-row HTTP-header charset hint column, as
    in run_extraction."""
    from pyspark.sql import types as T

    cfg = cfg or ExtractConfig()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("comment_text", T.StringType()),
            T.StructField("n_comment_spans", T.IntegerType()),
        ]
    )

    cols, charset_col = lane_columns(pages, charset_col)

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield split_comments_batch(pdf, cfg, charset_col)

    return pages.select(*cols).mapInPandas(fn, schema=schema)
