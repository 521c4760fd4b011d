"""HTML → Markdown rendering lane.

The flagship extractor flattens a page to plain text; training corpora
increasingly keep lightweight STRUCTURE (headings as ``#`` prefixes,
paragraph breaks as blank lines — what every "HTML to markdown" crawl
pipeline emits, e.g. the markdown variants of RefinedWeb/FineWeb
pipelines). This lane reuses the flagship's machinery (the shared
document front, then one ``_decode_batch`` over the batch: stage 1 and
stage 2 in a constant number of kernel calls; webx/extract.py) and
renders the surviving spans instead of joining them:

* stage 1 runs with ONE different run rule, ``heading_split``
  (webx/detect.py merge_runs_table, the kernel's
  ``wxparams.heading_split``): no heading rescue, and candidate runs
  BREAK at heading↔content transitions instead of merging across them,
  so each heading becomes its own span; heading spans are exempt from
  ``min_span_chars`` (an ``<h1>`` is naturally short), content spans
  keep the flagship floor;
* heading spans get ``'#' * level + ' '`` — the level read from the
  ``<h1>``-``<h6>`` open tag of the heading, the nearest one before the
  span in the source bytes (the detector's heading flag carries no
  level; the spans DO carry byte offsets into the page, so the level is
  recoverable without re-tokenizing);
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
from typing import Iterable, Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame

from webx.config import ExtractConfig
from webx.extract import _decode_batch, lane_columns, lane_fronts

# an open tag of a heading element or of <title>, the level in group 1
_H_OPEN_RE = re.compile(rb"<(?:[hH]([1-6])|[tT][iI][tT][lL][eE])[\s/>]")

MARKDOWN_SCHEMA = "url string, markdown string, n_headings int, status string"


def _heading_level(
    html: bytes, start: int, stop: int = 0, above: Optional[int] = None
) -> Optional[int]:
    """Level of the <h1>-<h6> tag that opens the heading span at byte
    ``start``: the nearest heading or <title> open tag before it, however
    long its attributes (the span starts after that tag and any inline
    tags inside the heading). None when that tag is <title> (the
    tokenizer flags its block heading too): that's page METADATA,
    surfaced by urls.page_metadata, not body content, so the renderer
    drops it. The walk back stops at ``stop``, the previous heading
    span's start, whose answer ``above`` holds beyond it — so a page's
    headings cost one pass over its bytes."""
    pos = start
    while True:
        pos = html.rfind(b"<", stop, pos)
        if pos < 0:
            return above
        m = _H_OPEN_RE.match(html, pos)
        if m:
            return int(m.group(1)) if m.group(1) else None


def render_markdown_batch(
    pdf: pd.DataFrame, cfg: ExtractConfig, charset_col: "str | None" = None
) -> pd.DataFrame:
    fronts = lane_fronts(pdf, cfg, charset_col)
    out = {"url": pdf["url"].tolist(), "markdown": [], "n_headings": [],
           "status": [cs_status for _, _, cs_status in fronts]}
    for (html, _, _), (rows, _, _) in zip(
        fronts, _decode_batch(fronts, cfg, heading_split=True)
    ):
        parts = []
        n_headings = 0
        lvl, prev = None, 0
        for r in rows:
            if r["kind"] == "heading":
                lvl, prev = _heading_level(html, r["start"], prev, lvl), r["start"]
                if lvl is None:  # <title> block: metadata, not body
                    continue
                parts.append("#" * lvl + " " + r["text"])
                n_headings += 1
            else:
                parts.append(r["text"])
        out["markdown"].append("\n\n".join(parts))
        out["n_headings"].append(n_headings)
    return pd.DataFrame(out)


def run_markdown(
    pages: DataFrame,
    cfg: Optional[ExtractConfig] = None,
    charset_col: Optional[str] = None,
) -> DataFrame:
    """(url, html, …) → (url, markdown, n_headings, status).
    ``charset_col`` names a per-row HTTP-header charset hint column, as
    in run_extraction."""
    cfg = cfg or ExtractConfig()
    cols, charset_col = lane_columns(pages, charset_col)

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield render_markdown_batch(pdf, cfg, charset_col)

    return pages.select(*cols).mapInPandas(fn, MARKDOWN_SCHEMA)
