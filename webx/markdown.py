"""HTML → Markdown rendering lane.

The flagship extractor flattens a page to plain text; training corpora
increasingly keep lightweight STRUCTURE (headings as ``#`` prefixes,
paragraph breaks as blank lines — what every "HTML to markdown" crawl
pipeline emits, e.g. the markdown variants of RefinedWeb/FineWeb
pipelines). This lane reuses the exact same two-stage machinery
(tokenize → detect → decode; webx/extract.py) and renders the surviving
spans instead of joining them:

* heading spans get ``'#' * level + ' '`` — the level sniffed from the
  opening ``<h1>``-``<h6>`` tag immediately preceding the span in the
  source bytes (the detector's heading flag carries no level; the spans
  DO carry byte offsets into the page, so the level is recoverable
  without re-tokenizing);
* spans join with a blank line (``\\n\\n``), the markdown block
  separator.

Same scale shape as the flagship: scan → one fused Arrow ``mapInPandas``
→ sink; zero shuffles, spans never explode.

Reference anchors: the span decode chain is `RecCTCLabelDecode`
(mindocr/postprocess/rec_postprocess.py:75-142) and the per-stage sink
shape `save_res` (tools/infer/text/predict_system.py:119-137).
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from webx.charset import sniff_charset
from webx.config import ExtractConfig
from webx.detect import (
    Span,
    block_scores,
    expand_spans,
    validate_spans,
    weighted_mean,
)
from webx.extract import _decode_spans, resolve_tokenize_table

_H_TAG_RE = re.compile(rb"<[hH]([1-6])[^>]*>")
_LOOKBACK = 80  # bytes: expand_spans only widens into whitespace, so the
# opening heading tag sits within a few bytes of the span start

MARKDOWN_SCHEMA = "url string, markdown string, n_headings int, status string"


def _heading_level(html: bytes, start: int) -> Optional[int]:
    """Level of the <h1>-<h6> tag opening the heading span, or None when
    there is no such tag behind it — which is the <title> block (the
    tokenizer flags it heading too): that's page METADATA, surfaced by
    urls.page_metadata, not body content, so the renderer drops it."""
    window = html[max(0, start - _LOOKBACK) : start]
    matches = _H_TAG_RE.findall(window)
    return int(matches[-1]) if matches else None


def _structured_spans(html: bytes, cfg: ExtractConfig):
    """Stage 1 with STRUCTURE kept: identical tokenize/score/threshold
    arithmetic to the flagship (webx/extract.py:_extract_doc_stage1),
    but candidate runs BREAK at heading↔content transitions instead of
    merging across them, so each heading becomes its own span. Heading
    spans are exempt from ``min_span_chars`` (an ``<h1>`` is naturally
    short; a structure-preserving renderer must not drop it), content
    spans keep the flagship floor."""
    truncated = False
    if len(html) > cfg.limit_side_len:
        html = html[: cfg.limit_side_len]
        truncated = True
    charset = sniff_charset(html, cfg.default_charset)
    start, end, tlen, link, tags, heading, boiler = resolve_tokenize_table(
        cfg.ckernels
    )(html)
    n = len(tlen)
    if n == 0:
        return html, [], charset, truncated
    scores = block_scores(tlen, link, tags, boiler, cfg)
    cand = (scores >= cfg.binary_thresh) & (tlen >= cfg.min_block_chars)
    sl = scores.tolist()
    tl = tlen.tolist()
    spans = []
    i = 0
    while i < n:
        if not cand[i]:
            i += 1
            continue
        j = i
        while j + 1 < n and cand[j + 1] and heading[j + 1] == heading[i]:
            j += 1
        run = slice(i, j + 1)
        sc = weighted_mean(sl[run], tl[run])
        span_tlen = sum(tl[run])
        is_heading = bool(heading[i])
        if sc >= cfg.box_thresh and (
            is_heading or span_tlen >= cfg.min_span_chars
        ):
            spans.append(
                Span(
                    int(start[i]),
                    int(end[j]),
                    sc,
                    "heading" if is_heading else "content",
                    int(i),
                    int(j),
                )
            )
        i = j + 1
    if len(spans) > cfg.max_candidates:
        spans = spans[: cfg.max_candidates]
    spans = validate_spans(
        expand_spans(html, spans, cfg.expand_ratio), len(html)
    )
    return html, spans, charset, truncated


def render_markdown_batch(pdf: pd.DataFrame, cfg: ExtractConfig) -> pd.DataFrame:
    out = {"url": pdf["url"].tolist(), "markdown": [], "n_headings": [], "status": []}
    for html in pdf["html"].tolist():
        if html is None or len(html) == 0:
            out["markdown"].append("")
            out["n_headings"].append(0)
            out["status"].append("empty")
            continue
        html = bytes(html)
        html, spans, charset, _ = _structured_spans(html, cfg)
        rows, _, _ = _decode_spans(html, spans, charset, cfg)
        parts = []
        n_headings = 0
        for r in rows:
            if r["kind"] == "heading":
                lvl = _heading_level(html, r["start"])
                if lvl is None:  # <title> block: metadata, not body
                    continue
                parts.append("#" * lvl + " " + r["text"])
                n_headings += 1
            else:
                parts.append(r["text"])
        out["markdown"].append("\n\n".join(parts))
        out["n_headings"].append(n_headings)
        out["status"].append("ok")
    return pd.DataFrame(out)


def run_markdown(
    pages: DataFrame, cfg: Optional[ExtractConfig] = None
) -> DataFrame:
    """(url, html, …) → (url, markdown, n_headings, status)."""
    cfg = cfg or ExtractConfig()

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield render_markdown_batch(pdf, cfg)

    return pages.select("url", "html").mapInPandas(fn, MARKDOWN_SCHEMA)
